"""Round-4 operator wave (SURVEY.md §2 E-addendum): iterative graph
ranking, banded spatial joins, distributed resampling statistics, robust
regression, retrieval scoring, two-cohort survival comparison, vector
product quantization, and skew diagnostics.

Every query keeps the engine's structural disciplines: no partition-less
windows (global order goes through ``functions/rank.py``), integer or
rounded-before-compare arithmetic wherever an argmin/threshold could flip
on float drift, banded equi-joins instead of cross products, broadcast
for every bounded side, and map-side-combinable aggregates on the fact
scans.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import round_int_ratio
from lambda_arc_events_filter_spark.functions.rank import global_order_stats
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# E1: PageRank over the nation-to-nation trade graph (iterative)
# ---------------------------------------------------------------------------


@register(
    "nations_trade_pagerank",
    oracle="""
    WITH edges AS (
      SELECT sn.n_name AS src, cn.n_name AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem
      JOIN orders   ON o_orderkey  = l_orderkey
      JOIN customer ON c_custkey   = o_custkey
      JOIN supplier ON s_suppkey   = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      WHERE s_nationkey <> c_nationkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    n AS (SELECT count(*) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
    pr0 AS (SELECT node, 1.0 / n.n AS pr FROM nodes, n),
    pr1 AS (
      SELECT nd.node,
             round(0.15 / n.n + 0.85 * coalesce(sum(p.pr * e.w / o.ow), 0),
                   9) AS pr
      FROM nodes nd CROSS JOIN n
      LEFT JOIN edges e ON e.dst = nd.node
      LEFT JOIN pr0 p   ON p.node = e.src
      LEFT JOIN outw o  ON o.src = e.src
      GROUP BY nd.node, n.n
    ),
    pr2 AS (
      SELECT nd.node,
             round(0.15 / n.n + 0.85 * coalesce(sum(p.pr * e.w / o.ow), 0),
                   9) AS pr
      FROM nodes nd CROSS JOIN n
      LEFT JOIN edges e ON e.dst = nd.node
      LEFT JOIN pr1 p   ON p.node = e.src
      LEFT JOIN outw o  ON o.src = e.src
      GROUP BY nd.node, n.n
    )
    SELECT node AS nation, round(pr, 6) AS pagerank FROM pr2
    """,
    tags=("graph", "iterative", "agg"),
)
def nations_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, two synchronous iterations from
    the uniform vector) over the nation→nation trade graph: an edge
    supplier-nation → customer-nation weighted by shipped lineitems —
    "which markets does trade flow INTO when you follow the supply
    chain" — the canonical iterative-graph operator (the reference class
    has none; this is the join-agg fixpoint pattern every distributed
    PageRank uses).

    Scale shape: edge construction is the only fact-scale stage (one
    join-tree + count aggregate, dims broadcast); each PR iteration is a
    join-aggregate on the EDGE relation keyed by dst — rank mass never
    materializes per fact row, and the rank vector (|nodes| rows)
    broadcasts into each round.  Dangling mass follows the
    ignore-dangling convention (documented; oracle identical).  Ranks
    round to 9 between rounds so both engines iterate on identical
    inputs, and to 6 at the end.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                                 F.col("n_name").alias("src"))),
            "s_nationkey",
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"),
                                 F.col("n_name").alias("dst"))),
            "c_nationkey",
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    n_row = nodes.agg(F.count(F.lit(1)).alias("n"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = edges.join(F.broadcast(outw), "src")
    pr = nodes.join(F.broadcast(n_row)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(2):
        contrib = (
            ew.join(F.broadcast(pr), F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("ow")).alias("mass"))
        )
        pr = (
            nodes.join(F.broadcast(n_row))
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                F.round(
                    0.15 / F.col("n")
                    + 0.85 * F.coalesce(F.col("mass"), F.lit(0.0)),
                    9,
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("node").alias("nation"), F.round("pr", 6).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# E2/E3: banded spatial self-join + grid density (geo family)
# ---------------------------------------------------------------------------

#: deterministic hash-derived user coordinates — the fixture has no geo
#: columns, so the derivation is part of the query definition (shared
#: with users_geo_nearest_hub in statistics_q)
_PTS_SQL = """
    SELECT user_id,
           ((user_id * 2654435761) % 16000) / 100.0 - 80.0  AS lat,
           ((user_id * 40503) % 36000) / 100.0 - 180.0      AS lon
    FROM (SELECT DISTINCT user_id FROM events)
"""


def _user_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select("user_id").distinct().select(
        "user_id",
        (((F.col("user_id") * 2654435761) % 16000) / 100.0 - 80.0).alias(
            "lat"
        ),
        (((F.col("user_id") * 40503) % 36000) / 100.0 - 180.0).alias("lon"),
    )


def _haversine_km(lat_a, lon_a, lat_b, lon_b):
    # clamp at 1.0: near-antipodal pairs can float-round above 1 and NaN
    # the asin (same guard as users_geo_nearest_hub)
    arg = F.least(
        F.lit(1.0),
        F.pow(F.sin(F.radians(lat_b - lat_a) / 2), 2)
        + F.cos(F.radians(lat_a))
        * F.cos(F.radians(lat_b))
        * F.pow(F.sin(F.radians(lon_b - lon_a) / 2), 2),
    )
    return 2 * 6371.0 * F.asin(F.sqrt(arg))


@register(
    "users_geo_radius_join",
    oracle="""
    WITH pts AS ({pts})
    SELECT a.user_id AS user_a,
           CAST(count(*) AS BIGINT) AS n_neighbors,
           round(min(2 * 6371.0 * asin(sqrt(least(1.0,
               pow(sin(radians(b.lat - a.lat) / 2), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - a.lon) / 2), 2))))), 3)
             AS nearest_km
    FROM pts a JOIN pts b
      ON a.user_id <> b.user_id
    WHERE round(2 * 6371.0 * asin(sqrt(least(1.0,
            pow(sin(radians(b.lat - a.lat) / 2), 2)
            + cos(radians(a.lat)) * cos(radians(b.lat))
              * pow(sin(radians(b.lon - a.lon) / 2), 2)))), 3) <= 500.0
    GROUP BY a.user_id
    """.format(pts=_PTS_SQL),
    tags=("geo", "join", "scale"),
)
def users_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join: for every user, how many other users sit within
    500 km, and how close is the nearest — the proximity primitive behind
    matchmaking, store-siting, and exposure modeling.

    The oracle states the quadratic truth (all |users|² haversines); the
    engine computes the identical result with LATITUDE BANDING: points
    land in 5°(≈556 km > R)-tall latitude bands, the probe side also
    visits its two neighbor bands (explode ×3), and only same-band pairs
    pay the haversine — a pure equi-join on the band key.  Latitude
    banding is exact for ANY radius ≤ the band height (a pair differing
    by more than one band is > R apart by latitude alone) and — unlike
    lon×lat grid cells — needs no pole-side cell widening, because one
    degree of LATITUDE is ≈111 km everywhere.  The distance rounds to 3
    before the ≤ compare (both engines), so the cut line is engine-exact.
    At 100 TB the band key is the shuffle key; skewed bands get the
    salting levers the equi-join family already carries.

    Accepted ~2.2-2.5× vs DuckDB at sf0.1, decomposed (r10, noop-sink
    staged timing, min-of-8 warm): the POINT SET is only 1 500 rows, so
    the whole query is stage-floor, not compute — points-prep→noop
    alone is 0.062 s, and the full banded join + aggregate adds 0.114 s
    across its 2-3 stages (full 0.176 s; 0.152-0.179 s in full-headline
    runs).  DuckDB's 0.079 s is a single in-process nested loop over
    1 500² pairs — at this cardinality the quadratic form is FASTER
    than any distributed plan's scheduling, and stays so until the
    point set outgrows one node; the banded equi-join is the shape that
    survives that crossover, which is why the engine plans it.
    """
    pts = _user_points(spark, sf_dir)
    band = F.floor(F.col("lat") / 5.0).cast("long")
    a = pts.select("user_id", "lat", "lon", band.alias("band"))
    b = pts.select(
        F.col("user_id").alias("ub"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.explode(
            F.array(band - 1, band.cast("long"), band + 1)
        ).alias("band"),
    )
    km = F.round(
        _haversine_km(F.col("lat"), F.col("lon"), F.col("blat"), F.col("blon")),
        3,
    )
    return (
        a.join(b, "band")
        .filter(F.col("user_id") != F.col("ub"))
        .withColumn("km", km)
        .filter(F.col("km") <= 500.0)
        .groupBy(F.col("user_id").alias("user_a"))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.round(F.min("km"), 3).alias("nearest_km"),
        )
    )


@register(
    "users_geo_grid_density",
    oracle="""
    WITH pts AS ({pts})
    SELECT CAST(floor(lat / 10.0) AS BIGINT) AS cell_lat,
           CAST(floor(lon / 10.0) AS BIGINT) AS cell_lon,
           CAST(count(*) AS BIGINT)          AS n_users,
           round(avg(lat), 4)                AS centroid_lat,
           round(avg(lon), 4)                AS centroid_lon
    FROM pts
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """.format(pts=_PTS_SQL),
    tags=("geo", "agg"),
)
def users_geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial binning: user density per 10°×10° grid cell with cell
    centroids, sparse cells dropped — the heat-map / coverage rollup, and
    the cell-assignment half of every grid-blocked spatial algorithm
    (the radius join above uses the 1-D version as its join key).  One
    map-side-combinable aggregate over the user dimension."""
    pts = _user_points(spark, sf_dir)
    return (
        pts.groupBy(
            F.floor(F.col("lat") / 10.0).cast("long").alias("cell_lat"),
            F.floor(F.col("lon") / 10.0).cast("long").alias("cell_lon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("lat"), 4).alias("centroid_lat"),
            F.round(F.avg("lon"), 4).alias("centroid_lon"),
        )
        .filter(F.col("n_users") >= 3)
    )


# ---------------------------------------------------------------------------
# E4: Poisson bootstrap confidence interval (distributed resampling)
# ---------------------------------------------------------------------------


@register(
    "events_poisson_bootstrap_ci",
    oracle="""
    WITH s AS (
      SELECT event_id, value FROM events WHERE event_type = 'purchase'
    ),
    reps AS (SELECT unnest(generate_series(0, 31)) AS b),
    draws AS (
      SELECT r.b, s.value,
             CASE WHEN (s.event_id * 2654435761 + r.b * 40503) % 10000 < 3679
                    THEN 0
                  WHEN (s.event_id * 2654435761 + r.b * 40503) % 10000 < 7358
                    THEN 1
                  WHEN (s.event_id * 2654435761 + r.b * 40503) % 10000 < 9197
                    THEN 2
                  WHEN (s.event_id * 2654435761 + r.b * 40503) % 10000 < 9810
                    THEN 3
                  ELSE 4 END AS k
      FROM s CROSS JOIN reps r
    ),
    means AS (
      SELECT b, round(sum(k * value) / sum(k), 6) AS m
      FROM draws GROUP BY b HAVING sum(k) > 0
    ),
    arr AS (SELECT list_sort(list(m)) AS ms, count(*) AS nb FROM means)
    SELECT (SELECT round(avg(value), 6) FROM s)      AS point_mean,
           CAST(nb AS BIGINT)                        AS n_replicas,
           round(ms[CAST(floor((nb - 1) * 0.025) AS BIGINT) + 1], 6)
                                                     AS ci_lo,
           round(ms[CAST(ceil((nb - 1) * 0.975) AS BIGINT) + 1], 6)
                                                     AS ci_hi
    FROM arr
    """,
    tags=("stats", "agg", "scale"),
)
def events_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean purchase value: each row's
    weight in replica b is an independent ≈Poisson(1) draw, so a replica
    is computable with ONE map-side-combinable aggregate — the
    distributed-systems bootstrap (the classic n-out-of-n resample needs
    a global sample per replica; the Poisson approximation is what every
    large-scale A/B platform ships).  The 95% band is the 2.5/97.5
    replica-mean order statistics.

    Determinism: the "random" draw is a pure-arithmetic hash of
    (event_id, replica) thresholded at the Poisson(1) CDF in basis
    points — both engines compute the identical integer, so the replica
    weights match exactly.  Scale shape: explode ×32 replicas on the
    filtered fact scan, aggregate by replica (map-side combine), then a
    32-row order statistic via sort_array — no window, no second scan.
    """
    s = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "value")
    h = (F.col("event_id") * 2654435761 + F.col("b") * 40503) % 10000
    k = (
        F.when(h < 3679, 0)
        .when(h < 7358, 1)
        .when(h < 9197, 2)
        .when(h < 9810, 3)
        .otherwise(4)
    )
    draws = s.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    ).withColumn("k", k)
    means = (
        draws.groupBy("b")
        .agg(
            (F.sum(F.col("k") * F.col("value")) / F.sum("k")).alias("raw"),
            F.sum("k").alias("nk"),
        )
        .filter(F.col("nk") > 0)
        .select(F.round("raw", 6).alias("m"))
    )
    point = s.agg(F.round(F.avg("value"), 6).alias("point_mean"))
    arr = means.agg(
        F.sort_array(F.collect_list("m")).alias("ms"),
        F.count(F.lit(1)).alias("nb"),
    )
    lo_i = F.floor((F.col("nb") - 1) * 0.025).cast("int")
    hi_i = F.ceil((F.col("nb") - 1) * 0.975).cast("int")
    return arr.join(F.broadcast(point)).select(
        "point_mean",
        F.col("nb").cast("long").alias("n_replicas"),
        F.round(F.element_at(F.col("ms"), lo_i + 1), 6).alias("ci_lo"),
        F.round(F.element_at(F.col("ms"), hi_i + 1), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# E5: Theil-Sen robust trend (median-of-slopes regression)
# ---------------------------------------------------------------------------


@register(
    "daily_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT)
               AS t,
             round(avg(value), 6) AS y
      FROM events GROUP BY 1
    ),
    slopes AS (
      SELECT round((b.y - a.y) / (b.t - a.t), 9) AS s
      FROM daily a JOIN daily b ON b.t > a.t
    ),
    arr AS (SELECT list_sort(list(s)) AS ss, count(*) AS n FROM slopes),
    med AS (
      SELECT CASE WHEN n % 2 = 1 THEN ss[(n + 1) // 2]
                  ELSE (ss[n // 2] + ss[n // 2 + 1]) / 2 END AS slope
      FROM arr
    ),
    icepts AS (
      SELECT round(d.y - m.slope * d.t, 9) AS i0
      FROM daily d CROSS JOIN med m
    ),
    iarr AS (SELECT list_sort(list(i0)) AS ii, count(*) AS n FROM icepts)
    SELECT round(m.slope, 6) AS slope_per_day,
           round(CASE WHEN iarr.n % 2 = 1 THEN ii[(iarr.n + 1) // 2]
                      ELSE (ii[iarr.n // 2] + ii[iarr.n // 2 + 1]) / 2 END,
                 6) AS intercept,
           CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days
    FROM med m, iarr
    """,
    tags=("stats", "timeseries"),
)
def daily_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator over the daily mean-value series: slope =
    median of all pairwise slopes, intercept = median of (yᵢ − m·tᵢ) —
    the robust trend line (up to ~29% outlier contamination) that least
    squares can't give you; the right trend for metric series with
    incident spikes.

    The pairwise-slope relation is quadratic in the SERIES length, which
    is calendar-bounded (≈n² ≤ a few M for a decade of days) — the
    corpus-scale work stays in the daily rollup.  Pairs come from a
    range self-join (b.t > a.t, an equi-free banded join on a bounded
    relation); medians are order statistics over collected bounded
    arrays (no window, no sort of anything unbounded).  Slopes round to
    9 before the median so both engines order identical values; the
    median interpolation is spelled identically in both engines.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
        )
        .cast("long")
        .alias("t")
    ).agg(F.round(F.avg("value"), 6).alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("b.t") > F.col("a.t")).select(
        F.round(
            (F.col("b.y") - F.col("a.y")) / (F.col("b.t") - F.col("a.t")), 9
        ).alias("s")
    )

    def median_expr(arr_col, n_col):
        odd = arr_col[((n_col + 1) / 2).cast("int") - 1]
        even = (
            arr_col[(n_col / 2).cast("int") - 1]
            + arr_col[(n_col / 2).cast("int")]
        ) / 2
        return F.when(n_col % 2 == 1, odd).otherwise(even)

    sl = slopes.agg(
        F.sort_array(F.collect_list("s")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    ).select(median_expr(F.col("ss"), F.col("n")).alias("slope"))
    icepts = daily.join(F.broadcast(sl)).select(
        F.round(F.col("y") - F.col("slope") * F.col("t"), 9).alias("i0"),
        "slope",
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        icepts.groupBy("slope")
        .agg(
            F.sort_array(F.collect_list("i0")).alias("ii"),
            F.count(F.lit(1)).alias("n"),
        )
        .join(F.broadcast(n_days))
        .select(
            F.round("slope", 6).alias("slope_per_day"),
            F.round(median_expr(F.col("ii"), F.col("n")), 6).alias(
                "intercept"
            ),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


# ---------------------------------------------------------------------------
# E6: BM25 retrieval scoring
# ---------------------------------------------------------------------------

#: fixed query terms — part of the query definition (corpus vocabulary is
#: synthetic; these are mid-frequency content words)
_BM25_TERMS = ("join", "filter", "scan")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "text_bm25_search",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, avg(len) AS avglen FROM dl
    ),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
      WHERE w IN ('join', 'filter', 'scan') GROUP BY 1, 2
    ),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                 * (t.tf * (1.2 + 1))
                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.len / s.avglen)))
               AS score,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM tf t
      JOIN df d USING (w)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY t.doc_id
    )
    SELECT doc_id, round(score, 6) AS score, n_terms_hit
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id
    LIMIT 20
    """,
    tags=("llm", "text", "topk"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed 3-term query (k1=1.2,
    b=0.75, the Robertson defaults): idf·tf saturation with document-
    length normalization — the retrieval-scoring baseline every search
    and RAG stack starts from (tfidf's top-terms sibling answers "what
    characterizes this doc"; BM25 answers "which docs match this
    query").

    Scale shape: term frequencies come from ONE explode→filter→count
    aggregate restricted to the query terms (the filter prunes the token
    stream before the shuffle); doc lengths are a second map-side
    aggregate; df and the corpus stats are broadcast 1-row/3-row
    relations; the final top-20 is TakeOrderedAndProject on the rounded
    score with doc_id tiebreak.  No window, no join wider than the
    query-term hit list.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("len").alias("avglen")
    )
    tf = (
        tok.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term = idf * (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1
        * (1 - _BM25_B + _BM25_B * F.col("len") / F.col("avglen"))
    )
    scored = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# E7: two-cohort log-rank test (survival family)
# ---------------------------------------------------------------------------


@register(
    "users_logrank_test",
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
      SELECT CAST(user_id % 2 AS BIGINT) AS g,
             CAST(CASE WHEN conv_day IS NOT NULL
                  THEN date_diff('day', first_day, conv_day)
                  ELSE date_diff('day', first_day, last_day) END AS BIGINT)
               AS t,
             (conv_day IS NOT NULL) AS conv
      FROM spans
    ),
    per_t AS (
      SELECT t,
             sum(CASE WHEN g = 1 AND conv THEN 1 ELSE 0 END) AS d1,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)          AS x1,
             sum(CASE WHEN g = 0 AND conv THEN 1 ELSE 0 END) AS d0,
             sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)          AS x0
      FROM durations GROUP BY t
    ),
    risk AS (
      SELECT t, d1, d0,
             sum(x1) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n1,
             sum(x0) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n0
      FROM per_t
    ),
    terms AS (
      SELECT d1, d0, n1, n0,
             (d1 + d0) * 1.0 * n1 / (n1 + n0) AS e1,
             CASE WHEN n1 + n0 > 1 THEN
               (d1 + d0) * 1.0 * (n1 * 1.0 / (n1 + n0))
                 * (1 - n1 * 1.0 / (n1 + n0))
                 * (n1 + n0 - d1 - d0) / (n1 + n0 - 1)
             ELSE 0 END AS v
      FROM risk WHERE d1 + d0 > 0
    )
    SELECT CAST(sum(d1) AS BIGINT)       AS observed_1,
           round(sum(e1), 6)             AS expected_1,
           CAST(sum(d0) AS BIGINT)       AS observed_0,
           round(sum(d1 + d0 - e1), 6)   AS expected_0,
           round(pow(sum(d1 - e1), 2) / sum(v), 6) AS chi_square
    FROM terms
    """,
    tags=("stats", "agg"),
)
def users_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two user cohorts (even vs odd user id — the
    deterministic rollout-group stand-in): at every conversion time,
    compare cohort 1's observed conversions with the count expected if
    both cohorts shared one hazard; χ² = (Σ(O−E))²/ΣV — THE standard
    test for "do these survival curves differ", completing the
    Kaplan-Meier family (``users_survival_km`` estimates one curve; this
    compares two).

    The at-risk counts are reverse running sums over the day-granular
    duration axis, computed range-partitioned for both cohorts in ONE
    ``functions/rank.py`` pass (two running aggregates share the range
    exchange) — no partition-less window, fact-scale work confined to
    the per-user span aggregate.  All at-risk/observed quantities are
    integers; the E/V terms divide integers in an identical expression
    tree in both engines, rounded to 6 at the end.
    """
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias(
            "conv_day"
        ),
        F.max(day).alias("last_day"),
    )
    t = F.when(
        F.col("conv_day").isNotNull(), F.datediff("conv_day", "first_day")
    ).otherwise(F.datediff("last_day", "first_day"))
    durations = spans.select(
        (F.col("user_id") % 2).alias("g"),
        t.cast("long").alias("t"),
        F.col("conv_day").isNotNull().alias("conv"),
    )
    one = F.lit(1)
    per_t = durations.groupBy("t").agg(
        F.sum(F.when((F.col("g") == 1) & F.col("conv"), one).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("g") == 1, one).otherwise(0)).alias("x1"),
        F.sum(F.when((F.col("g") == 0) & F.col("conv"), one).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("g") == 0, one).otherwise(0)).alias("x0"),
    )
    risk = global_order_stats(
        per_t,
        [("t", "desc")],
        running={"n1": ("x1", "sum"), "n0": ("x0", "sum")},
        key=["t"],
    )
    n = F.col("n1") + F.col("n0")
    d = F.col("d1") + F.col("d0")
    p1 = F.col("n1") * 1.0 / n
    e1 = d * 1.0 * F.col("n1") / n
    v = F.when(
        n > 1, d * 1.0 * p1 * (1 - p1) * (n - d) / (n - 1)
    ).otherwise(F.lit(0.0))
    terms = risk.filter(d > 0).select(
        "d1", "d0", e1.alias("e1"), v.alias("v")
    )
    return terms.agg(
        F.sum("d1").cast("long").alias("observed_1"),
        F.round(F.sum("e1"), 6).alias("expected_1"),
        F.sum("d0").cast("long").alias("observed_0"),
        F.round(F.sum(F.col("d1") + F.col("d0") - F.col("e1")), 6).alias(
            "expected_0"
        ),
        F.round(
            F.pow(F.sum(F.col("d1") - F.col("e1")), 2) / F.sum("v"), 6
        ).alias("chi_square"),
    )


# ---------------------------------------------------------------------------
# E8: Lorenz curve (decile revenue concentration)
# ---------------------------------------------------------------------------


@register(
    "customer_lorenz_curve",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    dec AS (
      SELECT cents,
             ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM rev
    ),
    per_dec AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_customers,
             sum(cents) AS dc
      FROM dec GROUP BY 1
    ),
    tot AS (SELECT sum(dc) AS total FROM per_dec)
    SELECT CAST(decile AS INTEGER) AS decile, n_customers,
           round(dc / 100.0, 2) AS decile_revenue,
           round(dc * 1.0 / tot.total, 6) AS decile_share,
           round(sum(dc) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                 * 1.0 / tot.total, 6) AS cum_share
    FROM per_dec, tot
    """,
    tags=("stats", "agg"),
)
def customer_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue: customers ranked poorest-first,
    the cumulative revenue share at each population decile — the curve
    whose area deficit IS the Gini that ``customer_revenue_gini``
    reports as a scalar; this emits the 10 points an inequality chart
    plots.

    Integer-cents revenue, range-partitioned global rank with the
    arithmetic ntile reproduction (``functions/rank.py::ntile_from_rank``
    — no single-partition window over the growing customer relation),
    then the 10-row cumulative share via a triangular self-join.  Every
    sum is exact integer addition; the two share divisions are the only
    float steps.
    """
    from lambda_arc_events_filter_spark.functions.rank import ntile_from_rank

    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    n_row = rev.agg(F.count(F.lit(1)).alias("_n"))
    ranked = global_order_stats(
        rev.select("cents", "o_custkey"), ["cents", "o_custkey"], rank="_i"
    ).join(F.broadcast(n_row))
    per_dec = (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("_i"), F.col("_n"), 10)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("dc"),
        )
    )
    tot = per_dec.agg(F.sum("dc").alias("total"))
    a, b = per_dec.alias("a"), per_dec.alias("b")
    cum = (
        a.join(b, F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"))
        .agg(F.sum("b.dc").alias("cum_dc"))
    )
    return (
        per_dec.join(cum, "decile")
        .join(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("dc") / 100.0, 2).alias("decile_revenue"),
            F.round(F.col("dc") * 1.0 / F.col("total"), 6).alias(
                "decile_share"
            ),
            F.round(F.col("cum_dc") * 1.0 / F.col("total"), 6).alias(
                "cum_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# E9: product-quantization code assignment (vector compression)
# ---------------------------------------------------------------------------

_PQ_SUBS = 4  # subvectors per embedding
_PQ_SUBDIM = 16  # dims per subvector (embeddings are 64-wide)
_PQ_CODES = 4  # codes per subspace (codebook = vec_id 0..3's slices)


@register(
    "embedding_pq_assign",
    oracle="""
    WITH ed AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cents AS (
      SELECT CAST(vec_id AS INTEGER) AS code, i, v AS cv
      FROM ed WHERE vec_id < 4
    ),
    dist AS (
      SELECT e.vec_id, (e.i - 1) // 16 AS sv, c.code,
             round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d
      FROM ed e JOIN cents c USING (i)
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, sv, code, d FROM (
        SELECT vec_id, sv, code, d,
               row_number() OVER (PARTITION BY vec_id, sv
                                  ORDER BY d, code) AS rn
        FROM dist) WHERE rn = 1
    )
    SELECT vec_id,
           CAST(((max(CASE WHEN sv = 0 THEN code END) * 4
               + max(CASE WHEN sv = 1 THEN code END)) * 4
               + max(CASE WHEN sv = 2 THEN code END)) * 4
               + max(CASE WHEN sv = 3 THEN code END) AS BIGINT) AS pq_code,
           round(max(CASE WHEN sv = 0 THEN d END)
               + max(CASE WHEN sv = 1 THEN d END)
               + max(CASE WHEN sv = 2 THEN d END)
               + max(CASE WHEN sv = 3 THEN d END), 6) AS recon_error
    FROM best GROUP BY vec_id
    """,
    tags=("llm", "vector"),
)
def embedding_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-dim embedding splits into 4
    contiguous 16-dim subvectors, each assigned to its nearest of 4
    sub-codebook entries (slices of vec_id 0..3 — the deterministic
    fixture codebook, as for k-means seeding) — emitting the packed
    8-bit PQ code and the reconstruction error.  PQ is how billion-scale
    ANN indexes (FAISS IVF-PQ) compress vectors 32×; this is the encode
    pass.

    Same in-row argmin shape as ``kmeans_lloyd``: the codebook broadcasts
    as ONE row of per-subspace (code, slice) arrays, each corpus row
    folds over its 4 subspaces with array_min over (dist, code) structs
    (sub-distances rounded to 6 BEFORE the argmin — the engine-exact tie
    discipline) — a pure map over the corpus, no fanout, no shuffle.
    """
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub_cols = [
        F.expr(
            f"transform(slice(embedding, {s * _PQ_SUBDIM + 1}, {_PQ_SUBDIM}),"
            " x -> cast(x as double))"
        ).alias(f"s{s}")
        for s in range(_PQ_SUBS)
    ]
    cb = (
        emb.filter(F.col("vec_id") < _PQ_CODES)
        .select(F.col("vec_id").cast("int").alias("code"), *sub_cols)
        .agg(
            *[
                F.collect_list(F.struct("code", f"s{s}")).alias(f"cb{s}")
                for s in range(_PQ_SUBS)
            ]
        )
    )
    q = emb.select("vec_id", *sub_cols).crossJoin(F.broadcast(cb))
    best_exprs = [
        F.expr(
            f"array_min(transform(cb{s}, c -> named_struct("
            f"'d', round(aggregate(zip_with(s{s}, c.s{s},"
            " (x, y) -> (x - y) * (x - y)), 0D, (a, e) -> a + e), 6),"
            " 'code', c.code)))"
        ).alias(f"b{s}")
        for s in range(_PQ_SUBS)
    ]
    picked = q.select("vec_id", *best_exprs)
    code = (
        (
            (F.col("b0.code") * _PQ_CODES + F.col("b1.code")) * _PQ_CODES
            + F.col("b2.code")
        )
        * _PQ_CODES
        + F.col("b3.code")
    )
    err = (
        F.col("b0.d") + F.col("b1.d") + F.col("b2.d") + F.col("b3.d")
    )
    return picked.select(
        "vec_id",
        code.cast("long").alias("pq_code"),
        F.round(err, 6).alias("recon_error"),
    )


# ---------------------------------------------------------------------------
# E10: shuffle-key skew audit (ops diagnostics)
# ---------------------------------------------------------------------------


@register(
    "events_key_skew_audit",
    oracle="""
    WITH per_key AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT)   AS total
      FROM per_key
    )
    SELECT user_id, n AS n_events,
           ((2 * n * 1000000 + tot.total) // (2 * tot.total))
               / 1000000.0                          AS share,
           ((2 * n * tot.n_keys * 10000 + tot.total) // (2 * tot.total))
               / 10000.0                            AS x_avg_key,
           tot.n_keys
    FROM per_key, tot
    ORDER BY n DESC, user_id
    LIMIT 10
    """,
    tags=("scale", "agg", "topk"),
)
def events_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit over the events fact's natural join key
    (user_id): the 10 heaviest keys with their share of all rows and
    their load relative to the average key — the diagnostic a platform
    runs BEFORE choosing the salting factor the ``join_salted_skew``
    operator then applies (x_avg_key ≈ the minimum salt width that
    levels that key).

    One map-side-combinable count per key, a 1-row broadcast of the
    totals, TakeOrderedAndProject for the top-10 — the audit costs one
    scan regardless of corpus size.
    """
    e = load(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n").alias("total")
    )
    return (
        per_key.join(F.broadcast(tot))
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            round_int_ratio(F.col("n"), F.col("total"), 6).alias("share"),
            round_int_ratio(
                F.col("n") * F.col("n_keys"), F.col("total"), 4
            ).alias("x_avg_key"),
            F.col("n_keys").cast("long").alias("n_keys"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# E11: CUPED-adjusted A/B comparison (variance reduction)
# ---------------------------------------------------------------------------


@register(
    "events_cuped_adjusted_ab",
    oracle="""
    WITH mid AS (
      SELECT (CAST(epoch_us(min(ts)) AS BIGINT)
              + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS m_us
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS variant,
             round(avg(CASE WHEN CAST(epoch_us(ts) AS BIGINT) < mid.m_us
                            THEN value END), 6) AS x,
             round(avg(CASE WHEN CAST(epoch_us(ts) AS BIGINT) >= mid.m_us
                            THEN value END), 6) AS y
      FROM events, mid
      GROUP BY 1, 2
    ),
    both_p AS (
      SELECT * FROM per_user WHERE x IS NOT NULL AND y IS NOT NULL
    ),
    theta AS (
      SELECT round(covar_pop(x, y) / var_pop(x), 6) AS th,
             round(avg(x), 6) AS mx
      FROM both_p
    )
    SELECT variant,
           CAST(count(*) AS BIGINT)  AS n_users,
           round(avg(y), 6)          AS mean_raw,
           round(avg(y - theta.th * (x - theta.mx)), 6) AS mean_cuped,
           round(var_pop(y), 6)      AS var_raw,
           round(var_pop(y - theta.th * (x - theta.mx)), 6) AS var_cuped
    FROM both_p, theta
    GROUP BY variant, theta.th, theta.mx
    """,
    tags=("stats", "events", "agg"),
)
def events_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Existing Data): the A/B
    metric (per-user post-period mean value, variants = user-id parity)
    adjusted by the pre-period covariate — y' = y − θ(x − x̄) with
    θ = cov(x,y)/var(x) — the variance-reduction technique every large
    experimentation platform runs, typically cutting metric variance
    30-50% so experiments need proportionally less traffic.  Output:
    per-variant raw vs adjusted means and variances (the deliverable a
    platform shows beside the lift).

    The pre/post split is the replay midpoint (same deterministic
    convention as ``events_diff_in_diff``); θ and x̄ are a 1-row
    broadcast fit on BOTH variants pooled (standard, keeps the
    adjustment unbiased under A/A).  Per-user means round to 6 before
    the moments so both engines aggregate identical values; fact-scale
    work is the one per-user aggregate.
    """
    e = load(spark, sf_dir, "events")
    mid = e.agg(
        (
            (
                F.min("ts").cast("double") * 1_000_000
                + F.max("ts").cast("double") * 1_000_000
            )
            / 2
        )
        .cast("long")
        .alias("m_us")
    )
    us = F.col("ts").cast("double") * 1_000_000
    per_user = (
        e.join(F.broadcast(mid))
        .groupBy(
            "user_id", (F.col("user_id") % 2).alias("variant")
        )
        .agg(
            F.round(
                F.avg(F.when(us < F.col("m_us"), F.col("value"))), 6
            ).alias("x"),
            F.round(
                F.avg(F.when(us >= F.col("m_us"), F.col("value"))), 6
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    theta = per_user.agg(
        F.round(F.covar_pop("x", "y") / F.var_pop("x"), 6).alias("th"),
        F.round(F.avg("x"), 6).alias("mx"),
    )
    adj = F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))
    return (
        per_user.join(F.broadcast(theta))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("y"), 6).alias("mean_raw"),
            F.round(F.avg(adj), 6).alias("mean_cuped"),
            F.round(F.var_pop("y"), 6).alias("var_raw"),
            F.round(F.var_pop(adj), 6).alias("var_cuped"),
        )
    )


# ---------------------------------------------------------------------------
# E12: k-anonymity audit (governance)
# ---------------------------------------------------------------------------


@register(
    "events_k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(floor(value / 50.0) AS BIGINT)      AS value_band,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT)                       AS n_groups,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_risky_groups,
           CAST(sum(n) AS BIGINT)                         AS n_rows,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                                                          AS n_risky_rows,
           ((2 * sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000 + sum(n))
             // (2 * sum(n))) / 1000000.0                 AS risky_row_pct,
           CAST(min(n) AS BIGINT)                         AS min_group_size
    FROM qi
    """,
    tags=("agg", "audit"),
)
def events_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (event_type, day, 50-unit value band): how many QI equivalence
    classes — and what fraction of ROWS — are re-identifiable because
    fewer than k records share their tuple.  The release-gate check a
    governance pipeline runs before publishing an "anonymized" extract;
    the row-level risky fraction is the number that decides
    generalize-vs-suppress.

    Two nested map-side-combinable aggregates (QI group sizes, then the
    audit scalars) — one scan, integer arithmetic throughout, a single
    division for the percentage.
    """
    e = load(spark, sf_dir, "events")
    qi = e.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.floor(F.col("value") / 50.0).cast("long").alias("value_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    risky = F.when(F.col("n") < 5, F.col("n")).otherwise(0)
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_risky_groups"),
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(risky).cast("long").alias("n_risky_rows"),
        round_int_ratio(F.sum(risky), F.sum("n"), 6).alias("risky_row_pct"),
        F.min("n").cast("long").alias("min_group_size"),
    )


# ---------------------------------------------------------------------------
# E13: embedding whitening / standardization audit (vector family)
# ---------------------------------------------------------------------------


@register(
    "embedding_whitening_stats",
    oracle="""
    WITH ed AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    dim_stats AS (
      SELECT i, round(avg(v), 6) AS mu,
             round(stddev_pop(v), 6) AS sd
      FROM ed GROUP BY i
    ),
    z AS (
      SELECT e.vec_id, (e.v - d.mu) / d.sd AS z
      FROM ed e JOIN dim_stats d USING (i)
    )
    SELECT vec_id,
           round(sqrt(sum(z * z)), 6) AS z_norm,
           round(max(abs(z)), 6)      AS max_abs_z,
           CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
                                      AS n_outlier_dims
    FROM z GROUP BY vec_id
    """,
    tags=("llm", "vector", "agg"),
)
def embedding_whitening_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening (z-scoring) of the embedding corpus and
    the per-vector audit it feeds: the standardized norm, the largest
    |z| component, and the count of >3σ dimensions — the preprocessing +
    outlier screen run before PCA/whitened-cosine retrieval, and the
    vector-valued sibling of ``features_minmax_scale``.

    The 64-row per-dimension moment table broadcasts back into one
    corpus pass (explode → join-on-dim → re-aggregate by vec) —
    fact-scale work is two scans, no shuffle wider than |dims| keys.
    Moments round to 6 before the z-division so both engines standardize
    with identical operands.
    """
    emb = load(spark, sf_dir, "embeddings")
    ed = emb.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("i0", "v"),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "v")
    dim_stats = ed.groupBy("i").agg(
        F.round(F.avg("v"), 6).alias("mu"),
        F.round(F.stddev_pop("v"), 6).alias("sd"),
    )
    z = (F.col("v") - F.col("mu")) / F.col("sd")
    return (
        ed.join(F.broadcast(dim_stats), "i")
        .withColumn("z", z)
        .groupBy("vec_id")
        .agg(
            F.round(F.sqrt(F.sum(F.col("z") * F.col("z"))), 6).alias(
                "z_norm"
            ),
            F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
            F.sum(F.when(F.abs("z") > 3, 1).otherwise(0))
            .cast("long")
            .alias("n_outlier_dims"),
        )
    )


# ---------------------------------------------------------------------------
# E14: higher-moment aggregates from mergeable power sums
# ---------------------------------------------------------------------------


@register(
    "lineitem_moments_by_flag",
    oracle="""
    WITH ps AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             sum(l_extendedprice)                                   AS s1,
             sum(l_extendedprice * l_extendedprice)                 AS s2,
             sum(l_extendedprice * l_extendedprice * l_extendedprice)
                                                                    AS s3,
             sum(l_extendedprice * l_extendedprice * l_extendedprice
                 * l_extendedprice)                                 AS s4
      FROM lineitem GROUP BY 1
    ),
    mom AS (
      SELECT l_returnflag, n,
             s1 / n AS m1,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM ps
    )
    SELECT l_returnflag, n,
           round(m1, 4)                      AS mean_price,
           round(sqrt(m2), 4)                AS std_pop,
           round(m3 / pow(m2, 1.5), 6)       AS skewness_pop,
           round(m4 / (m2 * m2) - 3, 6)      AS excess_kurtosis
    FROM mom
    """,
    tags=("agg", "stats", "scale"),
)
def lineitem_moments_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag, computed
    from RAW POWER SUMS (Σx..Σx⁴) — the mergeable-sketch formulation:
    power sums combine across shards/partitions by plain addition, so
    the whole computation is one map-side-combinable aggregate at any
    scale (engines' built-in skewness/kurtosis differ in sample-vs-
    population convention and update order; spelling the central-moment
    algebra identically in both engines makes the result
    engine-portable, the same discipline as the regression suite).

    Higher moments are float-delicate (catastrophic cancellation when
    mean³ ≫ variance): prices ~5e4 keep Σx⁴ ≈ 1e25 within double range
    with ~1e-9 relative headroom, and both engines difference the same
    magnitudes, so the round-6 shape comparison holds.  For extreme-
    scale data the same query runs on shifted values (x − c) — the
    standard conditioning move — without changing the plan shape.
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    ps = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m1 * m1
    m3 = F.col("s3") / F.col("n") - 3 * m1 * (F.col("s2") / F.col("n")) + 2 * m1 * m1 * m1
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m1 * (F.col("s3") / F.col("n"))
        + 6 * m1 * m1 * (F.col("s2") / F.col("n"))
        - 3 * m1 * m1 * m1 * m1
    )
    return ps.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(m1, 4).alias("mean_price"),
        F.round(F.sqrt(m2), 4).alias("std_pop"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness_pop"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# E15: RAKE-style keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOPWORDS = ("a", "the")


@register(
    "text_rake_keyphrases",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.w, t.i
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
                           generate_subscripts(string_split(text, ' '), 1)
                             AS i) t
    ),
    runs AS (
      SELECT doc_id, w, i,
             sum(CASE WHEN w IN ('a', 'the') THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS UNBOUNDED PRECEDING) AS run_id
      FROM tok
    ),
    phrases AS (
      SELECT doc_id, run_id,
             string_agg(w, ' ' ORDER BY i) AS phrase,
             count(*) AS plen
      FROM runs WHERE w NOT IN ('a', 'the')
      GROUP BY 1, 2
    ),
    words AS (
      SELECT unnest(string_split(phrase, ' ')) AS w, plen FROM phrases
    ),
    wscore AS (
      SELECT w, ((2 * sum(plen) * 1000000 + count(*)) // (2 * count(*)))
                    / 1000000.0 AS score
      FROM words GROUP BY w
    ),
    pw AS (
      SELECT p.phrase, unnest(string_split(p.phrase, ' ')) AS w
      FROM (SELECT DISTINCT phrase FROM phrases WHERE plen BETWEEN 2 AND 4) p
    ),
    pscore AS (
      SELECT pw.phrase,
             round(sum(ws.score), 6) AS score
      FROM pw JOIN wscore ws USING (w)
      GROUP BY pw.phrase
    ),
    pfreq AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM phrases WHERE plen BETWEEN 2 AND 4 GROUP BY phrase
    )
    SELECT s.phrase, f.n_occurrences, s.score
    FROM pscore s JOIN pfreq f USING (phrase)
    ORDER BY s.score DESC, s.phrase
    LIMIT 15
    """,
    tags=("llm", "text", "topk"),
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyphrase extraction (Rose et al. 2010, public):
    candidate phrases are maximal stopword-free token runs (stopwords =
    the corpus's function words), each word scores degree/frequency over
    phrase co-occurrence, a phrase scores the sum of its word scores —
    the classic unsupervised keyword extractor (tfidf ranks single
    terms; RAKE surfaces multi-word phrases).  Top-15 phrases of length
    2-4 with corpus occurrence counts.

    Phrase segmentation is pure relational machinery — positions from
    posexplode, run ids from a per-document running stopword count (a
    doc-keyed window, never global), phrases from a per-run ordered
    string_agg — no regex splitting, so both engines segment
    identically.  Word scores are a broadcast-sized relation (|vocab|);
    the final top-15 is TakeOrderedAndProject on the rounded score.

    r14 shape: the token pipeline (explode 271 k tokens → doc-keyed run
    window → 21 k-phrase rollup) runs ONCE below a phrase-level
    aggregate (pcount) whose exchange every consumer reuses — see the
    inline comment for why the old shape ran it three times and the
    measured 12/12-pair win (median 0.964 → 0.695 s at sf0.1).
    Remaining cost: one pipeline pass + broadcast word-score join +
    phrase-level aggregates + top-15 on ≤21 k-row relations.

    Collapsing the two passes with a localCheckpoint disqualifies the
    prepared plan (a query-private RDD scan) and measured 0.70 s; in-row
    segmentation via boundary-pair HOFs measured 3.5 s (round 8); in-row
    regex stopword-split segmentation (no window, the 100 TB shuffle
    diet) measured a wash at sf0.1 (min 0.60 vs 0.51, median 0.645 vs
    0.682 interleaved) — kept on the window form, whose segmentation is
    defined by token equality rather than regex edge semantics.
    DuckDB's 0.23 s is one materialized CTE pass with no scheduler —
    the gap is the honest no-result-reuse protocol, not a wrong plan.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i0", "w"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "w")
    is_stop = F.col("w").isin(*_RAKE_STOPWORDS)
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = tok.withColumn(
        "run_id", F.sum(F.when(is_stop, 1).otherwise(0)).over(w_run)
    )
    phrases = (
        runs.filter(~is_stop)
        .groupBy("doc_id", "run_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(i, w))),"
                    " p -> p.w)"
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
    )
    # r14: the per-occurrence phrase relation rolls up ONCE into a
    # phrase-level aggregate (pcount) with its own exchange on phrase,
    # and BOTH remaining consumers derive from pcount.  Why this heals
    # the old 3-copy diamond (the percentile-core lesson, guide §2.3/
    # §2.4): the expensive token pipeline (explode → doc-keyed run
    # window → per-run rollup) now sits BELOW pcount's exchange, and
    # nothing can specialize the copies — ``plen`` rides as an AGGREGATE
    # output (max of the per-occurrence constant: equal phrase strings
    # always have equal word counts), so the candidate plen filter is a
    # HAVING that cannot push below pcount, and every consumer needs the
    # same three columns, so pruning cannot fork the subtrees either.
    # The r13 plan (plans/r13 + plans/r14/*_before) showed the old shape
    # ran the window+rollup THREE times: the pw branch pruned count(*)
    # out of its pfreq copy, which de-canonicalized the phrase
    # aggregates and defeated ReuseExchange above the (shared) token
    # exchange.  Carrying n_occurrences through pw also deletes the old
    # pscore⋈pfreq re-join (phrase determines n_occurrences, so
    # grouping by both is the same partition).  Measured (interleaved
    # prepared-plan A/B, sf0.1, 12 pairs): new wins 12/12, median
    # 0.964 → 0.695 s, min 0.829 → 0.624 s; executed plan: window+rollup
    # copies 3 → 1, one join removed (plans/r14/text_rake_keyphrases_*).
    # History — a localCheckpoint here would disqualify the query from
    # the prepared-plan cache (query-private RDD); in-row segmentation via
    # boundary-pair HOFs measured 3.5 s vs 0.6 s (round 8); the r9 shave
    # (pw from pfreq) cut the copies 4 → 3 but left the pruning fork.
    pcount = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max("plen").alias("plen"),
    )
    # word scores over ALL phrase occurrences, reweighted by occurrence
    # count: sum(plen·n)/sum(n) over distinct phrases ≡ sum(plen)/count
    # over occurrences — identical integers into the exact half-up ratio.
    wscore = pcount.select(
        F.explode(F.split("phrase", " ")).alias("w"),
        "plen",
        "n_occurrences",
    ).groupBy("w").agg(
        round_int_ratio(
            F.sum(F.col("plen") * F.col("n_occurrences")),
            F.sum("n_occurrences"),
            6,
        ).alias("score")
    )
    cand = pcount.filter(F.col("plen").between(2, 4))
    pw = cand.select(
        "phrase",
        "n_occurrences",
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    pscore = (
        pw.join(F.broadcast(wscore), "w")
        .groupBy("phrase", "n_occurrences")
        .agg(F.round(F.sum("score"), 6).alias("score"))
    )
    return (
        pscore.select("phrase", "n_occurrences", "score")
        .orderBy(F.col("score").desc(), "phrase")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# E17: deterministic epoch shuffle (training-order assignment)
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = 1  # epoch number — part of the query definition
_SHARD_SIZE = 1000


@register(
    "corpus_epoch_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             (doc_id * 2654435761 + {seed} * 40503) % 1000000007 AS hv
      FROM documents
    ),
    pos AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY hv, doc_id) AS epoch_pos
      FROM h
    )
    SELECT doc_id,
           CAST(epoch_pos AS BIGINT)                     AS epoch_pos,
           CAST((epoch_pos - 1) // {shard} AS BIGINT)    AS shard,
           CAST((epoch_pos - 1) % {shard} AS BIGINT)     AS shard_offset
    FROM pos
    """.format(seed=_SHUFFLE_SEED, shard=_SHARD_SIZE),
    tags=("llm", "corpus", "scale"),
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training epoch N: every document
    gets a pseudo-random position (hash of (doc_id, epoch), totally
    ordered with the id tiebreak) and the (shard, offset) it lands at —
    the reproducible data-order assignment an LLM training run needs
    (same epoch → same order on any cluster, any partition count; next
    epoch → new seed, new permutation; a restart can seek to any
    (shard, offset)).

    The position is the range-partitioned global rank over the hash
    order (``functions/rank.py`` — no single-partition window over the
    corpus, no global sort materialized); shard/offset are pure
    arithmetic on the rank.  The hash is engine-portable integer
    arithmetic, so both engines produce the identical permutation.
    """
    d = load(spark, sf_dir, "documents").select("doc_id")
    h = d.withColumn(
        "hv",
        (F.col("doc_id") * 2654435761 + _SHUFFLE_SEED * 40503) % 1000000007,
    )
    pos = global_order_stats(h, ["hv", "doc_id"], rank="epoch_pos")
    return pos.select(
        "doc_id",
        "epoch_pos",
        ((F.col("epoch_pos") - 1) / _SHARD_SIZE).cast("long").alias("shard"),
        ((F.col("epoch_pos") - 1) % _SHARD_SIZE).cast("long").alias(
            "shard_offset"
        ),
    )


# ---------------------------------------------------------------------------
# E18: k-anonymity generalization ladder (audit → repair)
# ---------------------------------------------------------------------------


@register(
    "events_k_anonymity_generalize",
    oracle="""
    WITH b50 AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(floor(value / 50.0) AS BIGINT) AS b, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    m50  AS (SELECT event_type, day, min(n) AS mn FROM b50 GROUP BY 1, 2),
    b100 AS (SELECT event_type, day, CAST(floor(b / 2.0) AS BIGINT) AS b,
                    sum(n) AS n FROM b50 GROUP BY 1, 2, 3),
    m100 AS (SELECT event_type, day, min(n) AS mn FROM b100 GROUP BY 1, 2),
    b200 AS (SELECT event_type, day, CAST(floor(b / 2.0) AS BIGINT) AS b,
                    sum(n) AS n FROM b100 GROUP BY 1, 2, 3),
    m200 AS (SELECT event_type, day, min(n) AS mn FROM b200 GROUP BY 1, 2),
    b400 AS (SELECT event_type, day, CAST(floor(b / 2.0) AS BIGINT) AS b,
                    sum(n) AS n FROM b200 GROUP BY 1, 2, 3),
    m400 AS (SELECT event_type, day, min(n) AS mn FROM b400 GROUP BY 1, 2)
    SELECT m50.event_type, m50.day,
           CAST(CASE WHEN m50.mn >= 5 THEN 50
                     WHEN m100.mn >= 5 THEN 100
                     WHEN m200.mn >= 5 THEN 200
                     WHEN m400.mn >= 5 THEN 400
                     ELSE 0 END AS BIGINT)      AS chosen_band_width,
           CAST(m50.mn AS BIGINT)               AS min_n_at_50,
           CAST(m400.mn AS BIGINT)              AS min_n_at_400,
           (m400.mn < 5)                        AS still_risky_at_400
    FROM m50
    JOIN m100 USING (event_type, day)
    JOIN m200 USING (event_type, day)
    JOIN m400 USING (event_type, day)
    """,
    tags=("agg", "audit"),
)
def events_k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair step behind the k-anonymity audit: per (event_type,
    day) release cell, the NARROWEST value-band width (50 → 100 → 200 →
    400, each a 2× coarsening) at which every band inside the cell
    reaches k=5 — the generalization-ladder decision a disclosure-control
    pipeline applies instead of suppressing rows (width 0 = even 400
    stays risky: suppress or widen further).

    One fact-scale aggregate at the FINEST band; every coarser level
    rolls up from the previous by integer halving of the band id
    (floor-div composition: floor(floor(v/50)/2) ≡ floor(v/100)), so the
    ladder costs three tiny re-aggregations over |cells × bands| rows,
    never a second scan — the sketch-rollup shape.  All counts integer.
    """
    e = load(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.floor(F.col("value") / 50.0).cast("long").alias("b"),
    ).agg(F.count(F.lit(1)).alias("n"))
    mins = []
    cur = b
    for _w in (50, 100, 200, 400):
        if _w != 50:
            cur = cur.groupBy(
                "event_type",
                "day",
                F.floor(F.col("b") / 2.0).cast("long").alias("b"),
            ).agg(F.sum("n").alias("n"))
        mins.append(
            cur.groupBy("event_type", "day").agg(
                F.min("n").alias(f"mn{_w}")
            )
        )
    m50, m100, m200, m400 = mins
    out = (
        m50.join(m100, ["event_type", "day"])
        .join(m200, ["event_type", "day"])
        .join(m400, ["event_type", "day"])
    )
    chosen = (
        F.when(F.col("mn50") >= 5, 50)
        .when(F.col("mn100") >= 5, 100)
        .when(F.col("mn200") >= 5, 200)
        .when(F.col("mn400") >= 5, 400)
        .otherwise(0)
    )
    return out.select(
        "event_type",
        "day",
        chosen.cast("long").alias("chosen_band_width"),
        F.col("mn50").cast("long").alias("min_n_at_50"),
        F.col("mn400").cast("long").alias("min_n_at_400"),
        (F.col("mn400") < 5).alias("still_risky_at_400"),
    )


# ---------------------------------------------------------------------------
# M1: grid-DBSCAN — density-based spatial clusters via connected cells
# ---------------------------------------------------------------------------


@register(
    "users_geo_grid_clusters",
    oracle="""
    WITH RECURSIVE pts AS (
      SELECT DISTINCT user_id FROM events
    ),
    geo AS (
      SELECT user_id,
             ((user_id * 2654435761) % 16000) / 100.0 - 80.0  AS lat,
             ((user_id * 40503) % 36000) / 100.0 - 180.0      AS lon
      FROM pts
    ),
    cells AS (
      SELECT CAST(floor(lat / 10.0) AS BIGINT) AS cl,
             CAST(floor(lon / 10.0) AS BIGINT) AS co,
             CAST(count(*) AS BIGINT)          AS n_users
      FROM geo GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    ids AS (SELECT (cl + 8) * 36 + (co + 18) AS id, cl, co, n_users
            FROM cells),
    edges AS (
      SELECT a.id AS s, b.id AS d
      FROM ids a JOIN ids b
        ON abs(a.cl - b.cl) <= 1 AND abs(a.co - b.co) <= 1
    ),
    reach AS (
      SELECT s AS node, d AS other FROM edges
      UNION
      SELECT r.node, e.d FROM reach r JOIN edges e ON r.other = e.s
    ),
    labels AS (SELECT node, min(other) AS label FROM reach GROUP BY node)
    SELECT CAST(l.label AS BIGINT)    AS cluster_label,
           CAST(count(*) AS BIGINT)   AS n_cells,
           CAST(sum(i.n_users) AS BIGINT) AS total_users
    FROM labels l JOIN ids i ON l.node = i.id
    GROUP BY l.label
    """,
    tags=("stats", "spatial", "iterative"),
)
def users_geo_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: grid-DBSCAN — density-based spatial clustering without a
    pairwise distance join: bin users into 10°×10° cells, keep DENSE
    cells (≥3 users — the minPts gate), and take connected components of
    the 8-neighborhood cell graph as clusters.  The classic
    billion-point-scale approximation of DBSCAN: the expensive ε-radius
    pair join collapses to an equi-join on a BOUNDED cell graph (≤576
    nodes at this resolution, whatever the data volume), and only the
    one cell-assignment aggregate ever touches the fact relation.

    Components ride ``operators/graph.py::connected_components``
    (hash-to-min label propagation); self-loops keep isolated dense
    cells labeled.  The oracle recomputes the same closure with a
    RECURSIVE CTE — min-reachable-id over the symmetric neighbor graph —
    so the iterative operator is exactness-checked against a
    declarative fixpoint every round.
    """
    from lambda_arc_events_filter_spark.operators.graph import (
        connected_components,
    )

    pts = _user_points(spark, sf_dir)
    cells = (
        pts.groupBy(
            F.floor(F.col("lat") / 10.0).cast("long").alias("cl"),
            F.floor(F.col("lon") / 10.0).cast("long").alias("co"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= 3)
        .withColumn("id", (F.col("cl") + 8) * 36 + (F.col("co") + 18))
    )
    cells = cells.localCheckpoint(eager=False)  # feeds edges + final join
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).alias("dx"), (F.col("id") / 3).cast("long").alias("dy0")
    ).select("dx", (F.col("dy0") - 1).alias("dy"))
    nbr = (
        cells.crossJoin(F.broadcast(offs))
        .select(
            F.col("id").alias("s"),
            (F.col("cl") + F.col("dx")).alias("ncl"),
            (F.col("co") + F.col("dy")).alias("nco"),
        )
        .join(
            cells.select(
                F.col("cl").alias("ncl"),
                F.col("co").alias("nco"),
                F.col("id").alias("d"),
            ),
            ["ncl", "nco"],
        )
        .select("s", "d")
    )
    # max_iter must cover the cell graph's DIAMETER (label propagation
    # moves the min one hop per round): a 16×36 grid can chain ~50 hops
    # once density saturates, which the default 25 silently under-merges
    # (caught at sf0.1: 9 labels vs the true 1).
    labels = connected_components(nbr, src="s", dst="d", max_iter=80)
    return (
        labels.join(cells, labels.node == cells.id)
        .groupBy(F.col("label").alias("cluster_label"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_users").alias("total_users"),
        )
    )


# ---------------------------------------------------------------------------
# DBSCAN over user geo points (banded radius join + connected components)
# ---------------------------------------------------------------------------

_HAV_SQL = """2 * 6371.0 * asin(sqrt(least(1.0,
    pow(sin(radians(b.lat - a.lat) / 2), 2)
    + cos(radians(a.lat)) * cos(radians(b.lat))
      * pow(sin(radians(b.lon - a.lon) / 2), 2))))"""


@register(
    "users_geo_dbscan_clusters",
    oracle="""
    WITH RECURSIVE pts AS ({pts}),
    pr AS (
      SELECT a.user_id AS ua, b.user_id AS ub
      FROM pts a JOIN pts b ON a.user_id <> b.user_id
      WHERE round({hav}, 3) <= 200.0
    ),
    deg AS (SELECT ua, count(*) AS n FROM pr GROUP BY 1),
    core AS (SELECT ua AS node FROM deg WHERE n >= 3),
    ce AS (
      SELECT pr.ua AS a, pr.ub AS b
      FROM pr JOIN core c1 ON c1.node = pr.ua
              JOIN core c2 ON c2.node = pr.ub
    ),
    reach(src, dst) AS (
      SELECT a, a FROM ce
      UNION
      SELECT r.src, e.b FROM reach r JOIN ce e ON r.dst = e.a
    ),
    lab AS (SELECT src AS node, min(dst) AS label FROM reach GROUP BY 1),
    corelab AS (
      SELECT c.node, coalesce(l.label, c.node) AS cluster_id
      FROM core c LEFT JOIN lab l ON l.node = c.node
    ),
    border AS (
      SELECT pr.ua AS node, min(cl.cluster_id) AS cluster_id
      FROM pr
      JOIN corelab cl ON cl.node = pr.ub
      LEFT JOIN core s ON s.node = pr.ua
      WHERE s.node IS NULL
      GROUP BY 1
    )
    SELECT p.user_id,
           CASE WHEN cl.node IS NOT NULL THEN 'core'
                WHEN bo.node IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(cl.cluster_id, bo.cluster_id) AS cluster_id
    FROM pts p
    LEFT JOIN corelab cl ON cl.node = p.user_id
    LEFT JOIN border bo ON bo.node = p.user_id
    """.format(pts=_PTS_SQL, hav=_HAV_SQL),
    tags=("geo", "ml", "graph"),
)
def users_geo_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (eps = 200 km, minPts = 4 incl. self) over the user point
    set, composed ENTIRELY from the engine's proven kernels: the exact
    latitude-banded radius equi-join (``users_geo_radius_join``'s 5°-band
    trick — exact for any eps ≤ band height) finds eps-neighbor pairs;
    degree ≥ 3 marks CORE points; iterative min-label connected
    components (``operators/graph``, the D22/CC kernel) clusters the
    core-core graph; border points attach to their minimum core
    neighbor's cluster; everything else is noise.  The oracle replays the
    quadratic truth with a recursive-CTE closure — density clustering
    with an exact cross-engine answer, which sklearn-style DBSCAN (BFS
    order, non-deterministic border ties) cannot give: the min-label /
    min-cluster tie-breaks are what make the operator oracle-able.

    Scale: pair generation is the banded equi-join (shuffle key = band,
    population bounded by point density per band); degree + border are
    keyed aggregates over the pair relation; CC iterates on the
    CORE-CORE subgraph only (≤ pair mass), with the graph kernel's
    per-round checkpoint discipline.  The classic scale trap — a full
    distance matrix — never materializes.
    """
    from lambda_arc_events_filter_spark.operators.graph import (
        connected_components,
    )

    pts = _user_points(spark, sf_dir)
    band = F.floor(F.col("lat") / 5.0).cast("long")
    a = pts.select("user_id", "lat", "lon", band.alias("band"))
    b = pts.select(
        F.col("user_id").alias("ub"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.explode(F.array(band - 1, band.cast("long"), band + 1)).alias(
            "band"
        ),
    )
    km = F.round(
        _haversine_km(F.col("lat"), F.col("lon"), F.col("blat"), F.col("blon")),
        3,
    )
    pr = (
        a.join(b, "band")
        .filter(F.col("user_id") != F.col("ub"))
        .withColumn("km", km)
        .filter(F.col("km") <= 200.0)
        .select(F.col("user_id").alias("ua"), "ub")
        .localCheckpoint(eager=False)  # feeds degree, CC edges, border
    )
    core = (
        pr.groupBy("ua")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select(F.col("ua").alias("node"))
    )
    ce = (
        pr.join(core.select(F.col("node").alias("ua")), "ua")
        .join(core.select(F.col("node").alias("ub")), "ub")
        .select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
    )
    lab = connected_components(ce, src="src", dst="dst")
    corelab = core.join(lab, "node", "left").select(
        "node", F.coalesce("label", "node").alias("cluster_id")
    )
    border = (
        pr.join(
            corelab.select(F.col("node").alias("ub"), "cluster_id"), "ub"
        )
        .join(core.select(F.col("node").alias("ua")), "ua", "left_anti")
        .groupBy(F.col("ua").alias("node"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return (
        pts.select("user_id")
        .join(
            corelab.select(
                F.col("node").alias("user_id"),
                F.col("cluster_id").alias("c_core"),
            ),
            "user_id",
            "left",
        )
        .join(
            border.select(
                F.col("node").alias("user_id"),
                F.col("cluster_id").alias("c_border"),
            ),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.when(F.col("c_core").isNotNull(), "core")
            .when(F.col("c_border").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("c_core", "c_border").alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# Bag of Little Bootstraps CI (BB23)
# ---------------------------------------------------------------------------

#: Poisson(8) CDF in parts-per-million, k = 0..15 (16+ falls through) —
#: math.exp-derived once and BAKED as integer literals so both engines
#: run the identical CASE ladder (never exp() in-plan: libm may differ).
_POIS8_PPM = [
    335, 3019, 13754, 42380, 99632, 191236, 313374, 452961,
    592547, 716624, 815886, 888076, 936203, 965819, 982743, 991769,
]


def _pois8_case_sql(h: str) -> str:
    branches = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS8_PPM)
    )
    return f"CASE {branches} ELSE 16 END"


@register(
    "events_blb_bootstrap_ci",
    oracle=f"""
    WITH s AS (
      SELECT event_id, value, (event_id * 40503) % 8 AS sub
      FROM events WHERE event_type = 'purchase'),
    reps AS (SELECT unnest(generate_series(0, 7)) AS r),
    draws AS (
      SELECT s.sub, rp.r, s.value,
             {_pois8_case_sql(
                 "(s.event_id * 2654435761 + rp.r * 97911) % 1000000"
             )} AS w
      FROM s CROSS JOIN reps rp),
    rep_means AS (
      SELECT sub, r,
             CAST(round(round(sum(w * value) / sum(w), 6) * 1000000)
                  AS BIGINT) AS m_e6
      FROM draws GROUP BY sub, r HAVING sum(w) > 0),
    sub_ci AS (
      SELECT sub, count(*) AS nr,
             CAST(sum(m_e6) AS BIGINT) AS s1,
             CAST(sum(m_e6 * m_e6) AS BIGINT) AS s2
      FROM rep_means GROUP BY sub),
    bounds AS (
      SELECT sub,
             (CAST(s1 AS DOUBLE)
              - 1.96 * sqrt(CAST(nr * s2 - s1 * s1 AS DOUBLE) / nr))
               / (nr * 1000000.0) AS lo,
             (CAST(s1 AS DOUBLE)
              + 1.96 * sqrt(CAST(nr * s2 - s1 * s1 AS DOUBLE) / nr))
               / (nr * 1000000.0) AS hi
      FROM sub_ci),
    folded AS (
      SELECT list(lo ORDER BY sub) AS los, list(hi ORDER BY sub) AS his,
             count(*) AS ns
      FROM bounds)
    SELECT (SELECT round(avg(value), 6) FROM s) AS point_mean,
           CAST(ns AS BIGINT) AS n_subsets,
           round(list_reduce(los, (a, b) -> a + b) / ns, 6) AS ci_lo,
           round(list_reduce(his, (a, b) -> a + b) / ns, 6) AS ci_hi
    FROM folded
    """,
    tags=("stats", "agg", "scale"),
)
def events_blb_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag of Little Bootstraps CI for the mean purchase value (Kleiner,
    Talwalkar, Sarkar & Jordan 2012) — THE bootstrap designed for
    clusters: split the data into b hash-disjoint subsets, bootstrap
    each subset INDEPENDENTLY with n-sized resamples (so every subset's
    replicas see full-data-scale variance), form a CI per subset, and
    AVERAGE the bounds.  Each subset's work touches only its own
    partition — the method's reason to exist is exactly this engine's
    scale posture (the sibling `events_poisson_bootstrap_ci` covers the
    single-pass Poisson variant; BLB adds the subset layer that bounds
    per-task memory and lets replicas parallelize per subset).

    Determinism: resample weights are Poisson(b=8) draws via a pure
    integer hash of (event_id, replica) thresholded on the BAKED
    Poisson(8) CDF ppm ladder (never exp() in-plan); replica means
    round to 6dp then scale to BIGINT micro-units so per-subset
    mean/variance are integer-exact; the final cross-subset averages
    are ORDERED 8-element folds.  Scale shape: one fact scan explodes
    ×8 replicas, ONE map-combinable aggregate on (subset, replica),
    then everything is ≤64 broadcast-scale rows."""
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "value",
            ((F.col("event_id") * 40503) % 8).alias("sub"),
        )
    )
    draws = s.select(
        "sub",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("r"),
        "event_id",
    ).withColumn(
        "w",
        F.expr(
            _pois8_case_sql("(event_id * 2654435761 + r * 97911) % 1000000")
        ),
    )
    rep_means = (
        draws.groupBy("sub", "r")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("raw"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "sub",
            (F.round(F.round("raw", 6) * 1000000))
            .cast("long")
            .alias("m_e6"),
        )
    )
    sub_ci = rep_means.groupBy("sub").agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum("m_e6").cast("long").alias("s1"),
        F.sum(F.col("m_e6") * F.col("m_e6")).cast("long").alias("s2"),
    )
    bounds = sub_ci.select(
        "sub",
        (
            (
                F.col("s1").cast("double")
                - 1.96
                * F.sqrt(
                    (F.col("nr") * F.col("s2") - F.col("s1") * F.col("s1"))
                    .cast("double")
                    / F.col("nr")
                )
            )
            / (F.col("nr") * 1000000.0)
        ).alias("lo"),
        (
            (
                F.col("s1").cast("double")
                + 1.96
                * F.sqrt(
                    (F.col("nr") * F.col("s2") - F.col("s1") * F.col("s1"))
                    .cast("double")
                    / F.col("nr")
                )
            )
            / (F.col("nr") * 1000000.0)
        ).alias("hi"),
    )
    folded = bounds.agg(
        F.array_sort(F.collect_list(F.struct("sub", "lo", "hi"))).alias(
            "arr"
        ),
        F.count(F.lit(1)).alias("ns"),
    )
    point = s.agg(F.round(F.avg("value"), 6).alias("point_mean"))
    return folded.crossJoin(F.broadcast(point)).select(
        "point_mean",
        F.col("ns").cast("long").alias("n_subsets"),
        F.round(
            F.expr(
                "aggregate(transform(arr, x -> x.lo), 0D, (a, b) -> a + b)"
            )
            / F.col("ns"),
            6,
        ).alias("ci_lo"),
        F.round(
            F.expr(
                "aggregate(transform(arr, x -> x.hi), 0D, (a, b) -> a + b)"
            )
            / F.col("ns"),
            6,
        ).alias("ci_hi"),
    )
