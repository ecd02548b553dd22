"""Advanced operator queries: as-of join (B21) and custom stateful
streaming (B55)."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load, values_relation
from lambda_arc_events_filter_spark.functions.exact import round_half_up
from lambda_arc_events_filter_spark.operators.asof import asof_join
from lambda_arc_events_filter_spark.operators.skew import salted_join
from lambda_arc_events_filter_spark.registry import register
from lambda_arc_events_filter_spark.sources.streams import events_stream, run_to_memory
from lambda_arc_events_filter_spark.streaming.stateful import conversion_stats


@register(
    "asof_join_events",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
      FROM events WHERE event_type IN ('purchase', 'view')
    ), c AS (
      SELECT *,
             last_value(CASE WHEN is_view = 1 THEN event_id END IGNORE NULLS)
               OVER w AS prior_view_id,
             last_value(CASE WHEN is_view = 1 THEN ts END IGNORE NULLS)
               OVER w AS prior_view_ts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_view DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
           prior_view_id, prior_view_ts
    FROM c WHERE event_type = 'purchase'
    """,
    tags=("join", "asof"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior view.

    Composite operator (operators/asof.py): union + one window pass — no
    native Spark ASOF exists.  Oracle reproduces it with IGNORE NULLS
    last_value in DuckDB.
    """
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        purchases,
        views,
        key="user_id",
        time_col="ts",
        value_cols=["event_id"],
        tiebreakers=["event_id"],
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("_asof_event_id").alias("prior_view_id"),
        F.col("_asof_time").alias("prior_view_ts"),
    )


@register(
    "stream_stateful_conversions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_ts
      FROM events
    )
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'view')     AS n_views,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           count(*) FILTER (WHERE event_type = 'purchase'
                            AND last_view_ts >= ts - INTERVAL 30 MINUTE)
                                                           AS n_conversions
    FROM ordered
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B55: arbitrary per-key state via applyInPandasWithState — CEP-ish
    view→purchase (≤30 min) conversion detection per user.

    Single-batch replay makes the update-mode output deterministic (one
    cumulative row per user), so this normally-rows-only operator gets a
    full SQL oracle.
    """
    s = events_stream(spark, sf_dir)
    return run_to_memory(conversion_stats(s), "stateful", mode="update")


@register(
    "join_salted_skew",
    oracle="""
    SELECT c.c_mktsegment,
           count(*)             AS n_events,
           round(sum(e.value), 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (SURVEY.md §4 skew handling): events.user_id is
    low-cardinality by construction [FIXTURES.md events], so the plain
    shuffle join hashes the whole fact table onto a handful of reducers —
    the canonical hot-key shape at 100 TB.  ``salted_join`` shards each
    key 8 ways deterministically (hash of event_id, not rand(): retries
    and the oracle must see identical placement) and replicates the
    customer side per shard.  Output is salt-invariant, so the plain SQL
    join is a sound oracle.
    """
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(e, c, on="user_id", salt_col="event_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def tws_available() -> bool:
    """transformWithStateInPandas runs a protobuf-based state-server
    worker; without a working google.protobuf in the Python workers the
    query crashes at start.  Gate the registration on the capability so
    queries() stays runnable everywhere (this container ships no usable
    protobuf and installs are out of scope)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B55 via the Spark 4 ``transformWithStateInPandas`` API (typed
    ValueState per key) — the second arbitrary-state path beside
    ``applyInPandasWithState``.  Single-batch replay makes the update-mode
    output deterministic (one cumulative row per user), so it gets a full
    SQL oracle.

    The API requires the RocksDB state-store provider; set per-run and
    restored so the query stays session-config-agnostic.
    """
    from lambda_arc_events_filter_spark.streaming.stateful import user_value_stats

    # transformWithStateInPandas REQUIRES the RocksDB provider; the
    # requirement rides run_to_memory's state_store parameter (set at
    # query start, restored after) instead of hand-managed session conf —
    # the round-8 review found run_to_memory's own provider override
    # silently clobbered a caller-set provider.
    s = events_stream(spark, sf_dir)
    return run_to_memory(
        user_value_stats(s), "tws", mode="update", state_store="rocksdb"
    )


if tws_available():
    register(
        "stream_stateful_user_stats",
        oracle="""
        SELECT user_id,
               count(*)               AS n_events,
               round(sum(value), 4)   AS total_value,
               round(max(value), 4)   AS max_value
        FROM events
        GROUP BY user_id
        """,
        tags=("streaming", "stateful"),
    )(_stream_stateful_user_stats)


# ---------------------------------------------------------------------------
# Pivot / conditional cross-tab
# ---------------------------------------------------------------------------


@register(
    "pivot_event_type_matrix",
    oracle="""
    SELECT user_id % 10 AS cohort,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY 1
    """,
    tags=("agg", "pivot"),
)
def pivot_event_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event-type counts cross-tabbed per user cohort.

    The pivot values are ENUMERATED (not discovered): ``pivot(col)`` with
    no value list runs an extra collect-distinct job over the corpus
    before the real aggregation — at 100 TB that is a full scan just to
    learn the column names.  With the list supplied the pivot compiles to
    one pass of conditional aggregates (exactly the oracle's FILTER form),
    map-side combinable, one shuffle of (cohorts × types) partial cells.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


# ---------------------------------------------------------------------------
# Correlated subqueries (EXISTS + scalar) through the SQL front door
# ---------------------------------------------------------------------------

_CORRELATED_SQL = """
    SELECT c.c_custkey, c.c_name,
           (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE)
            FROM {orders} o2
            WHERE o2.o_custkey = c.c_custkey) AS total_order_value
    FROM {customer} c
    WHERE EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_totalprice > 200000)
      AND NOT EXISTS (SELECT 1 FROM {orders} o3
                      WHERE o3.o_custkey = c.c_custkey
                        AND o3.o_orderstatus = 'F'
                        AND o3.o_totalprice < 1000)
"""


@register(
    "subquery_correlated",
    oracle=_CORRELATED_SQL.format(customer="customer", orders="orders"),
    tags=("join", "sql"),
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS / scalar subqueries — the SQL forms
    users actually write instead of semi/anti/aggregate joins.  Catalyst
    decorrelates all three (RewritePredicateSubquery → left-semi and
    left-anti hash joins; RewriteCorrelatedScalarSubquery → an aggregate
    + outer join), so the physical plan is the same shuffled-join shape as
    ``join_semi``/``join_anti`` — nothing executes per-row.  Identical SQL
    text runs on both engines.  The scalar aggregates DECIMAL (exact,
    order-insensitive): an avg-of-doubles here can land exactly on a
    rounding half (saw 1287637.63/8 = ...70375 split the engines — Java
    rounds the shortest string, DuckDB the binary value).
    """
    suffix = uuid.uuid4().hex[:6]
    names = {}
    for t in ("customer", "orders"):
        names[t] = f"{t}_{suffix}"
        load(spark, sf_dir, t).createOrReplaceTempView(names[t])
    out = spark.sql(_CORRELATED_SQL.format(**names))
    for v in names.values():  # eager analysis → safe to drop, no leak
        spark.catalog.dropTempView(v)
    return out


# ---------------------------------------------------------------------------
# RANGE window frames (value-based, not row-based)
# ---------------------------------------------------------------------------


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           count(*) OVER w                     AS n_within_10k,
           round(sum(o_totalprice) OVER w, 2)  AS sum_within_10k
    FROM orders
    WHERE o_totalprice > 250000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame — value-based bounds (all orders within $10k
    below the current price), the frame semantics ROWS frames can't
    express when ties and gaps matter.  Deterministic under ties by
    construction: every peer row shares the same frame, so no ordering
    ambiguity leaks into the result (unlike ROWS frames over ties).
    One shuffle on the partition key, one sort, single window pass.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_within_10k"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_within_10k"),
    )


# ---------------------------------------------------------------------------
# N1: rule-table event routing (multi-tenant filter fanout)
# ---------------------------------------------------------------------------

#: Subscriber routing table — part of the query definition: the
#: multi-tenant generalization of the Tier-A single-predicate filter
#: (one row per subscription, data-driven instead of code-driven).
_ROUTING_RULES = [
    # (subscriber, event_type or None=any, min_value, max_value)
    ("alerts-high-value", None, 500.0, None),
    ("purchase-feed", "purchase", None, None),
    ("error-monitor", "error", None, None),
    ("mid-band-views", "view", 50.0, 250.0),
    ("signup-feed", "signup", None, None),
]


@register(
    "events_rule_fanout",
    oracle="""
    WITH rules AS (
      SELECT * FROM (VALUES
        ('alerts-high-value', NULL, 500.0, NULL),
        ('purchase-feed', 'purchase', NULL, NULL),
        ('error-monitor', 'error', NULL, NULL),
        ('mid-band-views', 'view', 50.0, 250.0),
        ('signup-feed', 'signup', NULL, NULL)
      ) AS t(subscriber, want_type, min_value, max_value)
    ),
    matched AS (
      SELECT r.subscriber, e.event_id, e.value
      FROM events e JOIN rules r
        ON (r.want_type IS NULL OR e.event_type = r.want_type)
       AND (r.min_value IS NULL OR e.value >= r.min_value)
       AND (r.max_value IS NULL OR e.value <= r.max_value)
    )
    SELECT subscriber,
           CAST(count(*) AS BIGINT)    AS n_delivered,
           CAST(min(event_id) AS BIGINT) AS first_event_id,
           round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4)
             AS total_value
    FROM matched GROUP BY subscriber
    """,
    tags=("events", "join", "tier-a"),
)
def events_rule_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1: data-driven event routing — the multi-tenant generalization of
    the Tier-A filter (`streaming/pipeline.py::filter_events` evaluates
    ONE predicate compiled into the job; real feed products carry a
    SUBSCRIPTION TABLE).  Each rule is a row (type match + value band,
    NULL = wildcard); events fan out to every matching subscriber via a
    broadcast theta-join on the rules relation, and the query reports
    per-subscriber delivery counts and value totals.

    Scale shape: the rules relation is catalog-sized → broadcast; the
    fact relation streams through ONE codegen'd join stage evaluating
    all predicates per row (no per-rule scan, no union of filters) and
    the fanout multiplies only matched rows.  Value totals accumulate
    as integer ten-thousandths so the engines agree bit-for-bit.
    """
    e = load(spark, sf_dir, "events")
    # VALUES LocalRelation (r14): no 32-slice RDD job per broadcast
    # build, and the query becomes prepared-plan cacheable (the old
    # createDataFrame's LogicalRDD was not a resident index)
    rules = values_relation(
        spark,
        _ROUTING_RULES,
        "subscriber string, want_type string, min_value double,"
        " max_value double",
    )
    cond = (
        (F.col("want_type").isNull() | (F.col("event_type") == F.col("want_type")))
        & (F.col("min_value").isNull() | (F.col("value") >= F.col("min_value")))
        & (F.col("max_value").isNull() | (F.col("value") <= F.col("max_value")))
    )
    matched = e.join(F.broadcast(rules), cond)
    return matched.groupBy("subscriber").agg(
        F.count(F.lit(1)).alias("n_delivered"),
        F.min("event_id").alias("first_event_id"),
        F.round(
            F.sum(round_half_up(F.col("value") * 10000).cast("long")) / 10000.0, 4
        ).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# S2: nearest-neighbor as-of join with tolerance (both directions)
# ---------------------------------------------------------------------------


@register(
    "asof_join_nearest_tolerance",
    oracle="""
    WITH err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    pur AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT e.event_id,
             abs(epoch_us(e.ts) - epoch_us(p.p_ts)) AS gap_us,
             p.p_id
      FROM err e JOIN pur p
        ON p.user_id = e.user_id
       AND abs(epoch_us(e.ts) - epoch_us(p.p_ts)) <= 172800000000
    ),
    best AS (
      SELECT event_id, gap_us, p_id
      FROM cand
      QUALIFY row_number() OVER (PARTITION BY event_id
                                 ORDER BY gap_us, p_id) = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_matched,
           CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
           CAST((2 * sum(gap_us) + count(*) * 1000000)
              // (2 * count(*) * 1000000) AS BIGINT) AS avg_gap_s,
           CAST(min(p_id) AS BIGINT) AS sample_purchase_id
    FROM best
    """,
    tags=("join", "asof", "events"),
)
def asof_join_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: NEAREST as-of join with a tolerance — the bidirectional
    completion of the backward-only as-of family (B21): each error
    event matches the same user's CLOSEST purchase within ±2 days,
    whichever side of the error it falls on (incident-correlation
    semantics: "the transaction nearest the failure", not "the last
    one before").  Ties break on (gap, purchase id) — total-order
    deterministic — and the rollup reports match count and the exact
    average gap (integer-microsecond accumulation, half-up integer
    division to whole seconds).

    Scale shape: candidates come from a DAY-CELL banded equi-join (the
    error's day ±2 explodes 5 join cells — the interval-join pattern,
    never a time-theta nested loop), the per-event argmin is a keyed
    window over candidates only, and the cell fanout bounds candidate
    mass by 5·|purchases per user-day|.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("eus")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
        F.floor(F.unix_micros("ts") / 86_400_000_000).alias("ocell"),
    )
    tol = 172_800_000_000  # ±2 days in microseconds
    ec = err.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("eus") / 86_400_000_000) - 2,
                F.floor(F.col("eus") / 86_400_000_000) + 2,
            )
        ).alias("ocell"),
    )
    cand = (
        ec.join(pur, ["user_id", "ocell"])
        .withColumn("gap_us", F.abs(F.col("eus") - F.col("pus")))
        .filter(F.col("gap_us") <= tol)
    )
    w = Window.partitionBy("event_id").orderBy("gap_us", "p_id")
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    from lambda_arc_events_filter_spark.functions.exact import half_up_div

    return best.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("gap_us").alias("total_gap_us"),
        half_up_div(
            F.sum("gap_us"), F.count(F.lit(1)) * F.lit(1_000_000)
        ).alias("avg_gap_s"),
        F.min("p_id").alias("sample_purchase_id"),
    )
