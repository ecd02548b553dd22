"""Round-3 analytic depth: TPC-H-classic multi-join aggregates, peer-group
window statistics, and three-valued IN-subquery semantics.

These target the plan shapes a warehouse engine must get right at scale —
join ordering + broadcast selection across a 3-6 table star, top-k
pushdown below a sort, and Catalyst's null-aware anti-join rewrite — on
top of surfaces SURVEY.md §2 already covers piecewise.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import (
    round_half_up,
    round_int_ratio,
)
from lambda_arc_events_filter_spark.functions.rank import global_order_stats
from lambda_arc_events_filter_spark.functions.sessions import with_session_seq
from lambda_arc_events_filter_spark.operators.interval import (
    interval_overlap_count,
)
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# TPC-H Q3 shape: shipping priority (3-way join, agg, top-k)
# ---------------------------------------------------------------------------


@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) on the fixture star: segment-filtered
    customers → their pre-cutoff orders → post-cutoff lineitems, revenue
    per order, top 10.

    The plan Catalyst should (and does) pick: both dimension filters push
    to the scans, the filtered customer side broadcasts under AQE, the
    orders⨝lineitem join shuffles on orderkey once and the groupBy reuses
    that clustering (partial agg under the join output), and the
    ORDER+LIMIT collapses to TakeOrderedAndProject — no global sort ever
    materializes.  ``l_orderkey`` is a deterministic tiebreaker on equal
    revenues.
    """
    cutoff = F.lit("1998-01-01").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: regional supplier volume (6-way star join)
# ---------------------------------------------------------------------------


@register(
    "q05_region_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN supplier ON s_nationkey = n_nationkey
    JOIN lineitem ON l_suppkey   = s_suppkey
    JOIN orders   ON o_orderkey  = l_orderkey
    JOIN customer ON c_custkey   = o_custkey AND c_nationkey = s_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    """,
    tags=("join", "agg"),
)
def q05_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue by nation for lineitems
    where supplier and customer share an ASIA nation, over a 3-year order
    window — the deepest join tree in the suite (6 tables, one non-key
    equality ``c_nationkey = s_nationkey`` closing the star into a cycle).

    Scale shape: region/nation/supplier broadcast (a few KB); the only
    shuffles are lineitem⨝orders on orderkey and the customer join on
    custkey; the final nation aggregate is a handful of groups,
    map-side combined.  Catalyst's join reordering handles the cycle —
    the declared order here is readability, not execution order.
    """
    cut_lo = F.lit("1996-01-01").cast("timestamp")
    cut_hi = F.lit("1999-01-01").cast("timestamp")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cut_lo) & (F.col("o_orderdate") < cut_hi)
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        r.join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(s, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(l, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            c,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Peer-group window statistics: percent_rank / cume_dist
# ---------------------------------------------------------------------------


@register(
    "window_cume_percent_rank",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume,
           ntile(4) OVER w                 AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
    tags=("window",),
)
def window_cume_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31 completion: percent_rank + cume_dist + ntile in one window pass
    — the relative-standing statistics (what fraction of my nation's
    suppliers hold less balance than me).  ``s_suppkey`` in the ORDER BY
    makes rows unique within the partition, so the peer-set-dependent
    functions and ntile are all deterministic.  One exchange on the
    partition key, one sort, all three functions share the frame.
    """
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Three-valued IN-subquery semantics (null-aware membership)
# ---------------------------------------------------------------------------

_IN_3VL_SQL = """
    SELECT o_orderkey,
           o_custkey,
           o_custkey IN (SELECT CASE WHEN c_acctbal < 0 THEN NULL
                                     ELSE c_custkey END
                         FROM {customer}
                         WHERE c_mktsegment = 'BUILDING') AS in_building
    FROM {orders}
    WHERE o_orderkey <= 5000
"""


@register(
    "in_subquery_three_valued",
    oracle=_IN_3VL_SQL.format(customer="customer", orders="orders"),
    tags=("join", "sql"),
)
def in_subquery_three_valued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery with NULLs in the value list — SQL's three-valued
    membership trap: when the list contains a NULL (negative-balance
    BUILDING customers mapped to NULL here, and the fixture has them),
    non-members evaluate to NULL, not FALSE, while members still
    evaluate TRUE.

    Spark 4's native rewrite of a PROJECTED In-subquery is an
    ExistenceJoin that is NOT null-aware — measured on the fixture: it
    returns FALSE for all 1182 non-members where the standard (and
    DuckDB's mark join, and Spark's own WHERE-clause NOT IN handling)
    yields NULL.  So this engine expresses the standard semantics
    explicitly: broadcast the distinct non-null keys for the match flag,
    a broadcast scalar has-null flag for the unknown branch, and a
    three-way CASE — TRUE on hit, NULL if the list contains a NULL,
    FALSE otherwise.  Both joins broadcast; the orders side never
    shuffles, which is also the 100 TB plan.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    keys = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            F.when(F.col("c_acctbal") < 0, F.lit(None))
            .otherwise(F.col("c_custkey"))
            .alias("k")
        )
    )
    nonnull = (
        keys.filter(F.col("k").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    has_null = keys.agg(F.max(F.col("k").isNull()).alias("_has_null"))
    return (
        o.join(F.broadcast(nonnull), o.o_custkey == nonnull.k, "left")
        .crossJoin(F.broadcast(has_null))
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("_hit"), F.lit(True))
            .when(F.col("_has_null"), F.lit(None).cast("boolean"))
            .otherwise(F.lit(False))
            .alias("in_building"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality operators: column profiling + referential-integrity audit
# ---------------------------------------------------------------------------


@register(
    "dq_table_profile",
    oracle="""
    WITH base AS (SELECT count(*) AS n_rows FROM orders)
    SELECT col, n_rows, n_nonnull, n_distinct,
           ((2 * (n_rows - n_nonnull) * 1000000 + n_rows) // (2 * n_rows))
               / 1000000.0 AS null_fraction
    FROM (
      SELECT 'o_orderkey' AS col, base.n_rows,
             CAST(count(o_orderkey) AS BIGINT)          AS n_nonnull,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
      FROM orders CROSS JOIN base GROUP BY base.n_rows
      UNION ALL
      SELECT 'o_custkey', base.n_rows,
             CAST(count(o_custkey) AS BIGINT),
             CAST(count(DISTINCT o_custkey) AS BIGINT)
      FROM orders CROSS JOIN base GROUP BY base.n_rows
      UNION ALL
      SELECT 'o_orderstatus', base.n_rows,
             CAST(count(o_orderstatus) AS BIGINT),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT)
      FROM orders CROSS JOIN base GROUP BY base.n_rows
      UNION ALL
      SELECT 'o_orderpriority', base.n_rows,
             CAST(count(o_orderpriority) AS BIGINT),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT)
      FROM orders CROSS JOIN base GROUP BY base.n_rows)
    """,
    tags=("audit", "agg"),
)
def dq_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile (the Deequ/expectations primitive):
    row count, non-null count, distinct count, and null fraction per
    profiled column — in ONE scan.

    The Spark shape is the point: all per-column aggregates are sibling
    expressions of a single global aggregate (one pass, map-side
    partial), then the wide row unpivots to (col, stats) rows.  The
    oracle computes each column independently — same values, N scans —
    which is exactly the difference between profiling a 100 TB table
    once and N times.
    """
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    o = load(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).cast("bigint").alias(f"nn_{c}"))
        aggs.append(
            F.countDistinct(F.col(c)).cast("bigint").alias(f"nd_{c}")
        )
    wide = o.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"nn_{c}").alias("n_nonnull"),
                        F.col(f"nd_{c}").alias("n_distinct"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.col", "s.n_rows", "s.n_nonnull", "s.n_distinct")
    # Integer half-up rounding (functions/exact.py): count/count ratios
    # can land on true decimal halves where the engines' round() split.
    return stacked.withColumn(
        "null_fraction",
        round_int_ratio(
            F.col("n_rows") - F.col("n_nonnull"), F.col("n_rows"), 6
        ),
    )


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT edge, n_child, n_orphans FROM (
      SELECT 'lineitem.l_orderkey->orders' AS edge,
             CAST(count(*) AS BIGINT) AS n_child,
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey)
    """,
    tags=("audit", "join"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star's FK edges: per edge,
    child-row count and orphan count (children whose parent key is
    missing) — the ingest gate that catches a bad partition or a
    truncated dimension load before queries silently lose rows to inner
    joins.

    Each edge is a LEFT join probing the parent key; parents are
    dimension-sized, so every probe broadcasts (AQE) and the fact tables
    never shuffle — at 100 TB the audit costs one scan per child table.
    A healthy star reports zero orphans; the count (not just a boolean)
    sizes the blast radius when it isn't.
    """

    def edge(name, child, ckey, parent, pkey):
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent).select(F.col(pkey))
        return (
            c.join(p, F.col(ckey) == F.col(pkey), "left")
            .agg(
                F.lit(name).alias("edge"),
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                F.sum(
                    F.when(F.col(pkey).isNull(), 1).otherwise(0)
                ).cast("bigint").alias("n_orphans"),
            )
        )

    edges = [
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
             "orders", "o_orderkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey",
             "customer", "c_custkey"),
        edge("customer.c_nationkey->nation", "customer", "c_nationkey",
             "nation", "n_nationkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
             "supplier", "s_suppkey"),
    ]
    out = edges[0]
    for df in edges[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# Batch MERGE (SCD upsert): snapshot + change set → next snapshot
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
    WITH ch AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'D'
                  WHEN c_custkey % 10 IN (1, 2) THEN 'U'
                  WHEN c_custkey % 10 = 3 THEN 'I' END AS op,
             c_acctbal + 100.0   AS new_acctbal,
             c_custkey + 1000000 AS insert_key
      FROM customer
      WHERE c_custkey % 10 IN (0, 1, 2, 3))
    SELECT c.c_custkey,
           round(CASE WHEN ch.op = 'U' THEN ch.new_acctbal
                      ELSE c.c_acctbal END, 2) AS c_acctbal,
           c.c_mktsegment,
           CASE WHEN ch.op = 'U' THEN 'updated'
                ELSE 'kept' END AS merge_action
    FROM customer c
    LEFT JOIN ch ON c.c_custkey = ch.c_custkey
    WHERE ch.op IS NULL OR ch.op <> 'D'
    UNION ALL
    SELECT ch.insert_key AS c_custkey,
           round(ch.new_acctbal, 2) AS c_acctbal,
           'NEW' AS c_mktsegment,
           'inserted' AS merge_action
    FROM ch WHERE ch.op = 'I'
"""


@register(
    "batch_merge_upsert",
    oracle=_MERGE_ORACLE,
    tags=("join", "maintenance"),
)
def batch_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (the SCD/upsert table-maintenance primitive): apply a
    change set with update/delete/insert ops to a snapshot and emit the
    next snapshot — what ``MERGE INTO`` does in table formats, expressed
    engine-side as one outer join + disposition CASE + insert union.
    The change set here derives deterministically from the snapshot
    (op by key residue) so both engines replay the identical merge.

    Scale shape: snapshot LEFT-joins the change set on the key — the
    change side is typically ≪ snapshot and broadcasts (AQE); deletes
    drop via the join-result filter, updates overwrite via CASE, inserts
    union in.  The snapshot crosses the wire zero times when the change
    side broadcasts; at 100 TB with a bucketed snapshot this is the
    standard incremental-maintenance pass (see also
    dedup_incremental_snapshot for the ingest-side analogue).
    """
    c = load(spark, sf_dir, "customer")
    ch = (
        c.filter(F.col("c_custkey") % 10 <= 3)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, "D")
            .when(F.col("c_custkey") % 10 <= 2, "U")
            .otherwise("I")
            .alias("op"),
            (F.col("c_acctbal") + 100.0).alias("new_acctbal"),
            (F.col("c_custkey") + 1000000).alias("insert_key"),
        )
    )
    joined = c.join(
        F.broadcast(ch.select("c_custkey", "op", "new_acctbal")),
        "c_custkey",
        "left",
    )
    survivors = joined.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        "c_custkey",
        F.round(
            F.when(F.col("op") == "U", F.col("new_acctbal")).otherwise(
                F.col("c_acctbal")
            ),
            2,
        ).alias("c_acctbal"),
        "c_mktsegment",
        F.when(F.col("op") == "U", "updated")
        .otherwise("kept")
        .alias("merge_action"),
    )
    inserts = ch.filter(F.col("op") == "I").select(
        F.col("insert_key").alias("c_custkey"),
        F.round("new_acctbal", 2).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit("inserted").alias("merge_action"),
    )
    return survivors.unionByName(inserts)


# ---------------------------------------------------------------------------
# LATERAL join (correlated per-row subquery) + rolling distinct counts
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n.n_name, t.s_name, t.s_acctbal
    FROM {nation} n,
    LATERAL (SELECT s_name, s_acctbal FROM {supplier} s
             WHERE s.s_nationkey = n.n_nationkey
             ORDER BY s_acctbal DESC, s_name LIMIT 2) t
"""


@register(
    "lateral_join_topn",
    oracle=_LATERAL_SQL.format(nation="nation", supplier="supplier"),
    tags=("join", "sql"),
)
def lateral_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL join — the correlated per-row subquery form of top-N-per-
    group (each nation pulls ITS top-2 suppliers by balance): the SQL
    users write when the per-group logic is an arbitrary query, not just
    a rank filter.  Catalyst plans it via LateralJoin decorrelation
    (DecorrelateInnerQuery rewrites the correlated LIMIT into a
    window-rank join — the same physical shape as window_topk_per_group,
    proving the two surfaces meet in one plan).  Identical SQL text runs
    on both engines; ``s_name`` tie-breaks the LIMIT deterministically.
    """
    import uuid as _uuid

    suffix = _uuid.uuid4().hex[:6]
    names = {}
    for t in ("nation", "supplier"):
        names[t] = f"{t}_{suffix}"
        load(spark, sf_dir, t).createOrReplaceTempView(names[t])
    out = spark.sql(_LATERAL_SQL.format(**names))
    # spark.sql analyzes eagerly (classic mode), so the views can drop
    # immediately — no catalog leak per invocation
    for v in names.values():
        spark.catalog.dropTempView(v)
    return out


@register(
    "window_rolling_distinct",
    oracle="""
    SELECT event_id, event_type,
           CAST(count(DISTINCT user_id) OVER (
                PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS INT)
             AS rolling_uniques
    FROM events
    """,
    tags=("window", "events"),
)
def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count over a row frame — unique users across the
    trailing 50 events of each type (the sliding-uniques signal behind
    bot/abuse detection).  Spark has no DISTINCT windowed aggregate, so
    the engine expresses it as ``size(collect_set(...))`` over the same
    frame — semantically identical (a set per frame), one sort + one
    window pass, frame state bounded at 50 entries.  DuckDB runs the
    native DISTINCT window form; value equality proves the rewrite.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, Window.currentRow)
    )
    return e.select(
        "event_id",
        "event_type",
        F.size(F.collect_set("user_id").over(w)).alias("rolling_uniques"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: forecast revenue change (pure filter-aggregate)
# ---------------------------------------------------------------------------


@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT)                    AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter"),
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    filter-everything-then-one-global-sum query — a year of shipments in
    a discount band under a quantity cap.

    The whole query should be (and is) a single scan with every
    predicate pushed into the parquet reader (range predicates on
    l_shipdate/l_discount/l_quantity all reach PushedFilters, so
    row-group min/max stats skip non-qualifying groups before decode)
    followed by a partial+final sum — the plan whose scan efficiency IS
    the benchmark at 100 TB.
    """
    li = load(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    return (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS-correlated order counting (null-safe semi join)
# ---------------------------------------------------------------------------


@register(
    "q04_late_shipment_exists",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("join", "subquery", "agg"),
)
def q04_late_shipment_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking), adapted to the fixture
    columns: count two years of orders per priority where at least ONE
    lineitem shipped more than 90 days after the order date — the
    EXISTS-correlated aggregate.

    EXISTS compiles to a LEFT SEMI join on orderkey carrying the
    non-equi lateness predicate as a join condition — one shuffle on the
    key both sides, each order emitted at most once no matter how many
    late lineitems it has (the semi join's short-circuit is exactly
    EXISTS semantics, and what makes this safe on a skewed 7000-item
    order at scale).
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Scalar subquery: per-group metrics against a global baseline
# ---------------------------------------------------------------------------


@register(
    "subquery_scalar_global",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)        AS n_orders,
           round(avg(o_totalprice), 6)     AS avg_price,
           round(avg(o_totalprice)
                 / (SELECT avg(o_totalprice) FROM orders), 6) AS vs_global
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("subquery", "agg"),
)
def subquery_scalar_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: each order status's average total
    price expressed as a ratio to the GLOBAL average — the
    benchmark-against-baseline report shape.

    The global average is a one-row aggregate broadcast into the
    per-group result (Catalyst plans the scalar subquery as its own
    stage whose single row feeds the main plan as a literal); the corpus
    is scanned twice but shuffled once, and the broadcast side is one
    row — there is no cheaper way to compare every group to the whole.
    """
    o = load(spark, sf_dir, "orders")
    g = o.agg(F.avg("o_totalprice").alias("_g"))
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg("o_totalprice").alias("_avg"),
        )
        .join(F.broadcast(g))
        .select(
            "o_orderstatus",
            "n_orders",
            F.round("_avg", 6).alias("avg_price"),
            F.round(F.col("_avg") / F.col("_g"), 6).alias("vs_global"),
        )
    )


# ---------------------------------------------------------------------------
# Interval overlap join (chunked equi-join strategy)
# ---------------------------------------------------------------------------


@register(
    "interval_overlap_join",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    ),
    a AS (
      SELECT user_id, session_seq,
             min(ts) AS a_start, max(ts) AS a_end
      FROM s GROUP BY 1, 2
    ),
    b AS (
      SELECT event_id AS incident_id,
             ts - INTERVAL 5 MINUTE AS b_start,
             ts + INTERVAL 5 MINUTE AS b_end
      FROM events WHERE event_type = 'error'
    )
    SELECT a.user_id, a.a_start AS session_start,
           CAST(count(DISTINCT b.incident_id) AS BIGINT) AS n_incidents
    FROM a LEFT JOIN b
      ON a.a_start <= b.b_end AND b.b_start <= a.a_end
    GROUP BY 1, 2
    """,
    tags=("join", "events", "timeseries"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per-user activity sessions (30-minute-gap
    sessionization, same boundary rule as ``events_sessionize_gaps``)
    joined against incident windows (±5 min around every error event),
    counting distinct incidents each session overlaps — the
    interval-intersection primitive behind downtime attribution,
    ad-flight matching, and sensor alignment.

    A raw theta join (a.start<=b.end AND b.start<=a.end) is a nested
    loop — quadratic and a scale-killer.  The engine instead CHUNKS time
    into fixed 10-minute cells: each interval explodes to the cells it
    touches (``sequence`` over epoch-cells — bounded fan-out: sessions
    and incident windows are both minutes wide), the join becomes an
    EQUI-join on the cell id, and the exact overlap predicate then
    filters the superset; each pair is counted only in its CANONICAL
    cell (max of the two start-cells — always inside the overlap), so
    no dedup pass exists, and the left join back restores zero-overlap
    sessions.  The oracle runs the quadratic form directly — value
    equality proves the chunked rewrite.  At 100 TB the cell id is the
    shuffle key: time locality becomes hash locality, each cell's
    population is bounded by interval DENSITY (events per 10 minutes),
    not corpus size, and a hot cell takes the standard salting lever.
    (An earlier day-wide variant of this query made every interval span
    ~144 cells and every cell dense — measured 11 s at sf0.1 vs ~1 s for
    this sparse form; interval width discipline IS the design point.)

    Accepted ~2.5× vs DuckDB at sf0.1, decomposed (r10, noop-sink staged
    timing, min-of-8 warm): full 0.210 s = events scan→noop 0.084 +
    sessionize window/groupBy +0.080 + cell join/count/95 k-row Arrow
    transfer +0.046; the bare 100 k-row scan stage alone costs 0.056-
    0.084 s of local-mode task dispatch (b-side scan 0.056 s measured),
    i.e. >60% of the wall is per-stage floor across this 3-stage plan —
    DuckDB runs its quadratic form in-process with zero scheduling at
    this cardinality.  The floor amortizes linearly with volume; the
    plan itself (equi-join on cell id, no nested loop — plan-test
    pinned) is the 100 TB shape.
    """
    e = load(spark, sf_dir, "events")
    a = (
        with_session_seq(e.select("user_id", "ts"))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    )
    b = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("b_end"),
    )
    # canonical-cell counting + LEFT-join zero-restore: see
    # operators/interval.py (the conditional-count LEFT join removed the
    # old second session-restoring join and its sessionize re-computation;
    # interleaved A/B at sf0.1, bench env, min-of-8: 0.85 → 0.75 s;
    # canonical-cell vs distinct-dedup before that: 1.51 → 1.05 s).
    return interval_overlap_count(
        a, b, a_keys=("user_id", "a_start"), count_col="n_incidents"
    ).select(
        "user_id",
        F.col("a_start").alias("session_start"),
        "n_incidents",
    )


# ---------------------------------------------------------------------------
# Pareto / ABC classification (cumulative-share windows in integer cents)
# ---------------------------------------------------------------------------


@register(
    "lineitem_pareto_abc",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             sum(cents) OVER () AS total_cents
      FROM pr
    )
    SELECT l_partkey,
           round(cents / 100.0, 2)              AS revenue,
           round(cum_cents * 1.0 / total_cents, 6) AS cum_share,
           CASE WHEN cum_cents * 1.0 / total_cents <= 0.5 THEN 'A'
                WHEN cum_cents * 1.0 / total_cents <= 0.8 THEN 'B'
                ELSE 'C' END                    AS abc_class
    FROM c
    """,
    tags=("window", "agg"),
)
def lineitem_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: parts ranked by revenue, cumulative revenue
    share, and the classic A (top 50% of revenue) / B (next 30%) / C
    (tail) classification — the inventory-prioritization report.

    Numeric determinism is engineered, not hoped for: every lineitem's
    net price quantizes to INTEGER CENTS per row (no cross-row float
    summation ever happens), so part revenue and the running total are
    exact integer arithmetic in a pinned order (revenue desc, partkey)
    — engines disagree on float summation ASSOCIATION (segment-tree vs
    streaming window sums), but not on integer addition, so the A/B
    boundary cannot flip on a last-ulp drift — including across the
    cross-band combine.  The running total RUNS value-banded
    (``functions/rank.py``: literal value bands + per-band running sum +
    broadcast offset rebase): no single-partition window, no serial
    step; the grand total is a 1-row broadcast.
    """
    li = load(spark, sf_dir, "lineitem")
    # quantize PER ROW, sum integers: a per-part float sum then a single
    # round can land on a .5 boundary differently across engines (seen at
    # sf0.01 — three parts off by one cent); per-row rounding involves no
    # cross-row summation, so both engines produce identical cents and the
    # aggregate is exact integer addition in any order.
    pr = li.groupBy("l_partkey").agg(
        F.sum(
            round_half_up(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("cents")
    )
    # The per-part rollup feeds the rank helper's two banded branches as
    # a concurrent plan DIAMOND, not a localCheckpoint — a private
    # checkpoint disqualifies the query from the prepared-plan cache
    # (a query-private RDD: caching it would pin the materialized rollup
    # across executions), and the honest per-rep cost flips the choice:
    # 0.78 s checkpoint-per-rep vs 0.35 s checkpoint-free prepared at
    # sf0.1, identical output.  At cluster scale the build side should be
    # persisted instead (the materialize lever, default True).  The
    # grand total rides the helper's per-band summary (``totals=`` —
    # exact integer addition of per-band sums), which dropped the THIRD
    # rollup evaluation the old separate agg+crossJoin paid: measured
    # same-session 0.35 → 0.26 s (r9).
    #
    # r9 driver-gap closed (r10): the 0.26 s r9 claim was a SOLO
    # measurement; under the full 39-query headline mix the same plan
    # measures 0.33-0.36 s (three full-bench runs, 2026-08-15) — a
    # consistent ~0.08 s residency penalty (other queries' shuffle
    # files, JIT state, GC pressure sharing the JVM), not a plan
    # difference.  The driver's r9 recording of 0.457 s is that
    # full-mix number plus its session's host variance.  Honest claim:
    # ~0.27 s solo, ~0.35 s resident-mix at sf0.1.
    share = F.col("cum_cents") * 1.0 / F.col("total_cents")
    return (
        global_order_stats(
            pr,
            [("cents", "desc"), "l_partkey"],
            running={"cum_cents": ("cents", "sum")},
            totals={"total_cents": ("cents", "sum")},
            materialize=False,
        )
        .select(
            "l_partkey",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(share, 6).alias("cum_share"),
            F.when(share <= 0.5, "A")
            .when(share <= 0.8, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


# ---------------------------------------------------------------------------
# Month-over-month percent change (lag over calendar aggregate)
# ---------------------------------------------------------------------------


@register(
    "orders_mom_pct_change",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus,
             date_trunc('month', o_orderdate) AS month,
             round(sum(o_totalprice), 2)      AS revenue,
             CAST(count(*) AS BIGINT)         AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, month, revenue, n_orders,
           round((revenue - lag(revenue) OVER w)
                 / lag(revenue) OVER w, 6) AS mom_pct
    FROM m
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY month)
    """,
    tags=("window", "agg", "timeseries"),
)
def orders_mom_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per order status: calendar-month
    rollup, then lag-based percent delta (NULL for each status's first
    month) — the KPI-trend query every reporting layer runs.

    The aggregate shrinks the corpus to |status × month| rows BEFORE the
    window, so the serial month ordering runs on dozens of rows no matter
    the input scale; revenue rounds to 2 decimals before the ratio so
    both engines difference identical values.
    """
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        "o_orderstatus",
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.partitionBy("o_orderstatus").orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "o_orderstatus",
        "month",
        "revenue",
        "n_orders",
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_pct"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral nation-pair trade volume
# ---------------------------------------------------------------------------


@register(
    "q07_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
    tags=("analytic", "join", "tpch"),
)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between a PAIR
    of nations in both directions — the supplier side resolved through
    lineitem→supplier→nation, the customer side through
    orders→customer→nation, per shipment year.

    The interesting plan property: TWO independent broadcast chains hang
    off the same fact scan (supplier+nation on l_suppkey,
    orders→customer+nation on l_orderkey) — lineitem streams through
    both probes without ever shuffling, and the bilateral nation filter
    applies as soon as each chain's nation name is in scope, shrinking
    the surviving fact rows before the aggregate.  The only wide
    exchange is the final (nation, nation, year) aggregate — k² · years
    rows.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = F.broadcast(
        s.join(n1, s.s_nationkey == F.col("n1_key")).select(
            "s_suppkey", "supp_nation"
        )
    )
    cust = F.broadcast(
        c.join(n2, c.c_nationkey == F.col("n2_key")).select(
            "c_custkey", "cust_nation"
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue ranking
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           n.n_name,
           round(c.c_acctbal, 2) AS c_acctbal,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("analytic", "join", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter-window — returns-flagged
    lineitems joined up through orders to the customer dimension and its
    nation.

    Plan posture: the date filter prunes orders FIRST (pushed scan
    predicate), the returnflag filter prunes lineitem at ITS scan, and
    the shrunken orders side broadcasts into the fact join; customer and
    nation broadcast likewise, so the single wide exchange is the
    per-customer aggregate, and the top-20 is TakeOrderedAndProject (a
    bounded heap, never a global sort).  Ties pinned by c_custkey for
    cross-engine determinism.
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-07-01")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintile scoring)
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_segments",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
    base AS (
      SELECT o_custkey AS c_custkey,
             CAST(date_diff('day', max(o_orderdate),
                            (SELECT max_d FROM mx)) AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT *,
        6 - (CAST(floor((row_number() OVER (ORDER BY recency_days, c_custkey)
               - 1) * 5.0 / (count(*) OVER ())) AS BIGINT) + 1) AS r_score,
        CAST(floor((row_number() OVER (ORDER BY frequency, c_custkey)
               - 1) * 5.0 / (count(*) OVER ())) AS BIGINT) + 1  AS f_score,
        CAST(floor((row_number() OVER (ORDER BY monetary_cents, c_custkey)
               - 1) * 5.0 / (count(*) OVER ())) AS BIGINT) + 1  AS m_score
      FROM base
    )
    SELECT c_custkey, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score >= 4 AND f_score < 4 THEN 'recent'
                WHEN r_score < 2 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score < 2 AND f_score < 2  THEN 'lost'
                ELSE 'core' END AS segment
    FROM scored
    """,
    tags=("analytic", "customer"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    vs the corpus's newest order), frequency (order count) and monetary
    value (lifetime spend in integer cents), each scored into quintiles,
    then mapped to named marketing segments — the classic customer-value
    model, with every step integer-exact so both engines agree bit-for-
    bit (cents instead of float sums, epoch-day recency, the same
    explicit rank-arithmetic quintile as ``histogram_equi_depth``
    instead of engine-convention ntile, ties pinned by custkey; recency
    quintile is inverted so 5 = most recent).

    Shape: one hash(custkey) aggregate over orders, then three global
    ranks over the |customers| relation — at 100 TB the base aggregate
    is the only corpus-scale stage; each rank runs value-banded
    (``functions/rank.py``: literal value bands + per-band row_number +
    broadcast offset rebase, joined back on custkey), so
    the scoring involves no single-partition window; the customer count
    is a 1-row broadcast.
    """
    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("max_d"))
    base = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(round_half_up(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .join(F.broadcast(mx))
        .select(
            "c_custkey",
            F.datediff("max_d", "last_d").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    cnt_row = base.agg(F.count(F.lit(1)).alias("_cnt"))
    ranked = base
    for metric in ("recency_days", "frequency", "monetary_cents"):
        ranked = global_order_stats(
            ranked, [metric, "c_custkey"], rank=f"_rn_{metric}", key=["c_custkey"]
        )
    ranked = ranked.join(F.broadcast(cnt_row))

    def quintile(metric):
        rn = F.col(f"_rn_{metric}")
        return F.floor((rn - 1) * 5.0 / F.col("_cnt")).cast("long") + 1

    scored = ranked.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        (6 - quintile("recency_days")).alias("r_score"),
        quintile("frequency").alias("f_score"),
        quintile("monetary_cents").alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") < 4), "recent")
        .when((F.col("r_score") < 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") < 2) & (F.col("f_score") < 2), "lost")
        .otherwise("core")
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        segment.alias("segment"),
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto-frontier query (2-D dominance)
# ---------------------------------------------------------------------------


@register(
    "orders_skyline_frontier",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT)  AS price_cents,
             CAST(floor(epoch(o_orderdate)) AS BIGINT)  AS date_sec
      FROM orders
    ),
    w AS (
      SELECT *,
             max(date_sec) OVER (ORDER BY price_cents
                                 RANGE BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS best_cheaper
      FROM s
    )
    SELECT o_orderkey, price_cents, date_sec
    FROM w
    WHERE best_cheaper IS NULL OR best_cheaper <= date_sec
    """,
    tags=("analytic", "window"),
)
def orders_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: the orders not STRICTLY dominated
    on (cheaper price, more recent date) — an order falls off the
    frontier exactly when some strictly cheaper order is also strictly
    more recent.  The multi-criteria shortlist primitive (cheapest-and-
    freshest offers, best price/performance points).

    The naive formulation is a quadratic NOT EXISTS self-join; the
    engine computes it analytically: collapse to one row per distinct
    price (max date — map-side combinable, and a row per PRICE makes
    "strictly cheaper" an exclusive ROWS frame, preserving strict
    dominance exactly like the oracle's value-based RANGE frame), take
    the value-banded exclusive running max (``functions/rank.py``
    — no single-partition window, no serial sort), and join the
    per-price frontier bound back to the orders on price.  Versus the
    self-join's |orders|² pair stream this is two shuffles by price.
    """
    o = load(spark, sf_dir, "orders")
    s = o.select(
        "o_orderkey",
        round_half_up(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.floor(F.unix_timestamp("o_orderdate")).cast("long").alias("date_sec"),
    )
    per_price = s.groupBy("price_cents").agg(F.max("date_sec").alias("mx"))
    bound = global_order_stats(
        per_price,
        ["price_cents"],
        running={"best_cheaper": ("mx", "max")},
        exclusive=True,
    ).select("price_cents", "best_cheaper")
    return (
        s.join(bound, "price_cents")
        .filter(
            F.col("best_cheaper").isNull()
            | (F.col("best_cheaper") <= F.col("date_sec"))
        )
        .select("o_orderkey", "price_cents", "date_sec")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: late-shipment priority mix by return flag
# ---------------------------------------------------------------------------


@register(
    "q12_late_priority_mix",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag
    """,
    tags=("join", "agg"),
)
def q12_late_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority mix, adapted to the fixture
    schema): lineitems shipped more than 60 days after their order date,
    split per return flag into high- vs low-priority order counts via
    conditional CASE sums — the two-counters-in-one-pass aggregation
    pattern every SLA dashboard uses.

    Plan shape: the shuffle joins orders⨝lineitem on orderkey once; the
    late-shipment predicate is a post-join filter (it references both
    sides) evaluated inside the join stage, and the CASE sums partial-
    aggregate map-side — three groups total cross the final exchange.
    """
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share (conditional-ratio aggregate)
# ---------------------------------------------------------------------------


@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-04-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
    GROUP BY ALL
    """,
    tags=("join", "agg"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the share of one quarter's revenue
    earned by promo-type parts — a conditional sum divided by the
    unconditional sum in the same aggregate pass, the canonical
    numerator/denominator-in-one-scan ratio metric.

    Plan shape: the quarter filter pushes to the lineitem scan; part
    (2 k rows) broadcasts, so the only exchange is the single-group
    final aggregate — two doubles cross the wire.  The ratio divides
    two sums of IDENTICAL operand sets in both engines, then rounds to
    4, so cross-engine float-order drift (~1e-15 relative) cannot reach
    the compared digits.
    """
    lo = F.lit("1997-04-01").cast("timestamp")
    hi = F.lit("1997-07-01").cast("timestamp")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive multi-predicate revenue (OR-of-ANDs pushdown)
# ---------------------------------------------------------------------------


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 40
           AND l_quantity BETWEEN 25 AND 45)
    GROUP BY ALL
    """,
    tags=("join", "agg", "pushdown"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): revenue
    over an OR of three (brand AND size-range AND quantity-range)
    conjuncts — the classic test of an optimizer's handling of
    disjunctions that straddle a join.

    Plan shape Catalyst produces (and the plan test pins): the
    single-side factors of the OR are extracted and pushed BELOW the
    join — ``p_brand IN (…) AND p_size BETWEEN 1 AND 40`` prunes the
    part scan and ``l_quantity BETWEEN 1 AND 45`` prunes lineitem —
    while the full cross-side disjunction evaluates as the join's
    residual condition.  Without that CNF extraction every lineitem row
    would reach the join; with it the scans already dropped the
    never-matching bulk.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#3") & s.between(1, 15) & q.between(1, 15))
        | ((b == "Brand#12") & s.between(5, 25) & q.between(10, 25))
        | ((b == "Brand#23") & s.between(20, 40) & q.between(25, 45))
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: idle high-balance customers (anti-join + scalar subquery)
# ---------------------------------------------------------------------------


@register(
    "q22_idle_customer_balance",
    oracle="""
    WITH thresh AS (
      SELECT round(avg(c_acctbal), 2) AS t FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, thresh
    WHERE c_acctbal > t
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    tags=("join", "subquery", "agg"),
)
def q22_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers whose balance
    beats the positive-balance average yet have never placed an URGENT
    order, counted and totalled per market segment — a scalar aggregate
    subquery feeding a filter plus a predicated NOT EXISTS anti-join.
    (The fixture's ~10 orders/customer makes the classic "never ordered"
    set empty at every SF; the priority predicate keeps the identical
    plan shape with a non-trivial result.)

    Plan shape: the scalar average computes on the customer table alone
    and enters the main plan as a broadcast one-row cross input (Spark's
    scalar-subquery execution); the NOT EXISTS lowers to a left-anti
    hash join on custkey against only orders' key column (column pruning
    reaches the scan).  The threshold rounds to 2 decimals in BOTH
    engines before the comparison: balances carry 2-decimal precision,
    so a cross-engine flip would need the true average within ~1e-12 of
    a 0.005 rounding boundary — the documented float-tie floor.
    """
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    thresh = c.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("t")
    )
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical revenue shares (percent-of-parent OLAP view)
# ---------------------------------------------------------------------------


@register(
    "revenue_share_hierarchy",
    oracle="""
    WITH rev AS (
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
      FROM lineitem
      JOIN orders   ON o_orderkey  = l_orderkey
      JOIN customer ON c_custkey   = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      GROUP BY 1, 2
    )
    SELECT r_name, n_name,
           round(revenue, 2) AS revenue,
           round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6)
             AS pct_of_region,
           round(revenue / sum(revenue) OVER (), 6) AS pct_of_global
    FROM rev
    """,
    tags=("join", "window", "agg"),
)
def revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent revenue decomposition along the geographic
    hierarchy (nation → region → global): each nation's revenue with its
    share of its region and of the world — the drill-down view every
    OLAP hierarchy renders.

    One corpus-scale star join + nation-grain aggregate (the dimensions
    all broadcast); both share denominators are windows over the
    25-row nation summary, so the percent-of-parent math costs nothing
    at any scale.  Nation revenue rounds to 6 BEFORE the share windows:
    the window then sums identical rounded operands in both engines,
    leaving drift (~1e-16 relative) far below the round-6 output.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )
    w_region = Window.partitionBy("r_name")
    # the global denominator is a 1-row broadcast, not a partition-less
    # window (which would move the relation to a single task)
    tot = rev.agg(F.sum("revenue").alias("_g"))
    return rev.join(F.broadcast(tot)).select(
        "r_name",
        "n_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(
            F.col("revenue") / F.sum("revenue").over(w_region), 6
        ).alias("pct_of_region"),
        F.round(F.col("revenue") / F.col("_g"), 6).alias("pct_of_global"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution (count-of-counts)
# ---------------------------------------------------------------------------


@register(
    "q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey
                      AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
    tags=("join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed k
    qualifying orders, for every k — the count-of-counts histogram whose
    left join MUST preserve order-less customers (their k = 0 bucket is
    the business signal: inactive accounts).

    Plan shape: LEFT join with the predicate ON the join (not WHERE —
    a WHERE would silently turn the outer join inner and drop the zero
    bucket), first-level aggregate on custkey reusing the join's
    clustering, then a second tiny aggregate over the counts.
    ``count(o_orderkey)`` counts non-null matches only — the exact
    semantic the outer join exists to feed.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier(s) by period revenue (agg + scalar max)
# ---------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
    tags=("join", "agg", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose quarter revenue
    equals the maximum over all suppliers — an aggregate feeding a
    scalar-max subquery over ITSELF, the classic "view used twice"
    shape Q15 defines via CREATE VIEW.

    The revenue relation is built once and consumed by both the filter
    and the scalar max; Spark plans the max as a one-row broadcast
    against the re-used aggregate.  Revenue rounds to 2 BEFORE both the
    max and the equality, so the tie surface is exact cents in both
    engines — equality on unrounded float sums would be a cross-engine
    coin flip, the same lesson as every threshold in this suite.
    """
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_rev")
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders (HAVING-gated IN subquery)
# ---------------------------------------------------------------------------


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 210
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON o_custkey  = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("join", "agg", "subquery", "topk"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total line
    quantity exceeds a threshold, re-joined to customers and lineitems
    for the full picture, top-20 by order value — the HAVING-filtered
    aggregate used as an IN-subquery over the SAME fact table.

    Plan shape: the ``big`` aggregate reduces lineitem to qualifying
    orderkeys (a tiny set), which lowers to a LEFT SEMI join pruning
    the second lineitem pass; the final ORDER+LIMIT collapses to
    TakeOrderedAndProject.  Quantity sums are integral-valued doubles
    (fixture quantities are whole numbers), so the >210 gate and the
    rounded output are float-drift-free in both engines.
    """
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 210)
        .select("l_orderkey")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: min-cost supplier per part (correlated min over a join)
# ---------------------------------------------------------------------------


@register(
    "q02_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             (2 * sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100
              + CAST(sum(l_quantity) AS BIGINT))
             // (2 * CAST(sum(l_quantity) AS BIGINT)) / 10000.0
               AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ),
    best AS (SELECT l_partkey, min(unit_cost) AS mc FROM cost GROUP BY 1)
    SELECT p_partkey, p_brand, s_suppkey, s_name, n_name, unit_cost
    FROM part
    JOIN cost ON l_partkey = p_partkey
    JOIN best USING (l_partkey)
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE unit_cost = mc AND p_size <= 10
    """,
    tags=("join", "agg", "subquery"),
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier, adapted: the fixture has no
    partsupp, so observed unit cost = avg(price/qty) per (part, supplier)
    from lineitem): for each small part, every supplier achieving the
    part's minimum unit cost, with their nation — the correlated-min
    pattern (aggregate joined back against its own per-key minimum).

    Plan shape: one (part, supplier) aggregate; its per-part min is a
    second tiny aggregate broadcast back; supplier/nation dims broadcast.
    Unit cost is a ratio of EXACT sums (integer cents over integral
    quantities) rounded to 4 before both the min and the equality, so
    the winner set is deterministic cross-engine at any scale.
    """
    l = load(spark, sf_dir, "lineitem")
    # unit cost = Σprice / Σqty (volume-weighted), accumulated EXACTLY:
    # price sums in integer cents, quantity sums are integral doubles —
    # so the ratio is the same IEEE division in both engines.  The
    # earlier avg-of-ratios form drifted at the 4th decimal on sf0.1
    # groups and flipped min-equality winners (stress-sweep finding).
    # unit cost = Σprice/Σqty at 4 decimals, computed ENTIRELY in
    # integers with explicit half-up division ((2a+q) div 2q): the
    # rational Σcents/Σqty terminates on .xxxx5 often enough that even
    # identical doubles round apart (Spark rounds the shortest decimal
    # string, DuckDB the binary value — COVERAGE.md divergence class,
    # caught by the sf0.1 stress sweep twice on this query).
    cost = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(round_half_up(F.col("l_extendedprice") * 100).cast("long")).alias(
                "_cents"
            ),
            F.sum("l_quantity").cast("long").alias("_q"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            (
                F.expr("(2 * _cents * 100 + _q) div (2 * _q)") / 10000.0
            ).alias("unit_cost"),
        )
    )
    best = cost.groupBy("l_partkey").agg(F.min("unit_cost").alias("mc"))
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        p.join(cost, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(best), "l_partkey")
        .filter(F.col("unit_cost") == F.col("mc"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "p_partkey", "p_brand", "s_suppkey", "s_name", "n_name", "unit_cost"
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share within a region by year
# ---------------------------------------------------------------------------


@register(
    "q08_market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           round(sum(CASE WHEN n2.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6)
             AS market_share,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS region_rev
    FROM lineitem
    JOIN orders   ON o_orderkey  = l_orderkey
    JOIN customer ON c_custkey   = o_custkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n1.n_regionkey
    JOIN supplier ON s_suppkey   = l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE r_name = 'AMERICA'
    GROUP BY 1
    """,
    tags=("join", "agg"),
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): of the revenue from AMERICA-
    region customers, the fraction supplied by one nation's suppliers,
    per order year — the conditional-share-of-total over a 7-table join
    with the nation dimension joined TWICE under different roles
    (customer's nation gates the region; supplier's nation is the
    numerator condition).

    Catalyst handles the self-joined dimension by alias; all dims
    broadcast, so the only shuffles are lineitem⨝orders and the
    customer join.  The share divides two sums over identical operand
    sets (numerator a CASE-masked subset), rounded to 6.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = load(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n1_region"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        0.0
                    )
                )
                / F.sum(rev),
                6,
            ).alias("market_share"),
            F.round(F.sum(rev), 2).alias("region_rev"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-line profit by supplier nation and year
# ---------------------------------------------------------------------------


@register(
    "q09_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           round(sum(l_extendedprice * (1 - l_discount) * (1 - l_tax)), 2)
             AS profit
    FROM lineitem
    JOIN part     ON p_partkey   = l_partkey
    JOIN supplier ON s_suppkey   = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey  = l_orderkey
    WHERE p_name LIKE '%a%'
    GROUP BY 1, 2
    """,
    tags=("join", "agg"),
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit, adapted: no partsupp supplycost in
    the fixture, so profit = revenue net of discount and tax): profit on
    name-matched parts by supplier nation and order year — the
    5-table join whose dimension filter (p_name LIKE) is the main
    selectivity lever.

    The LIKE pushes to the part scan; part/supplier/nation broadcast;
    lineitem⨝orders shuffles once on orderkey.  Profit rounds to 2 at
    the (nation, year) grain.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 - F.col("l_tax"))
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: important inventory lines (HAVING vs global scalar)
# ---------------------------------------------------------------------------


@register(
    "q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             round(sum(l_extendedprice * l_quantity), 2) AS part_value
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey < 5
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, part_value
    FROM val
    WHERE part_value > (SELECT 0.002 * sum(part_value) FROM val)
    """,
    tags=("agg", "subquery"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock, adapted: traded value from lineitem
    instead of partsupp stock): parts whose traded value within a
    supplier-nation slice exceeds a fixed fraction of the slice's total
    — an aggregate filtered against a scalar aggregate OF ITSELF, like
    q15 but with a fractional threshold (the "important inventory"
    gate).

    The value relation is one shuffle; its global sum is a 1-row
    broadcast; the fraction comparison happens on values rounded to 2
    first, so the threshold line is cents-deterministic in both
    engines (the scalar multiplies identically-rounded operands).
    """
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    val = (
        l.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2
            ).alias("part_value")
        )
    )
    thresh = val.agg((0.002 * F.sum("part_value")).alias("t"))
    return (
        val.join(F.broadcast(thresh))
        .filter(F.col("part_value") > F.col("t"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier diversity with NOT-IN exclusion
# ---------------------------------------------------------------------------


@register(
    "q16_supplier_diversity",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    tags=("join", "agg", "subquery"),
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many DISTINCT
    qualifying suppliers serve each (brand, type, size) bucket,
    excluding flagged suppliers through a NOT IN subquery (the
    fixture's negative-balance suppliers stand in for Q16's complaint
    list).

    The NOT IN lowers to a null-aware anti join (the supplier key list
    is non-null here, so it degenerates to a plain anti join — compare
    ``in_subquery_three_valued`` for the null-bearing case); part-side
    attribute filters push to the scan, and the distinct count runs as
    the standard two-level aggregate.
    """
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    l = load(spark, sf_dir, "lineitem")
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        l.join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: small-quantity-order revenue (correlated avg gate)
# ---------------------------------------------------------------------------


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pavg AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY 1
    )
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT)             AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pavg USING (l_partkey)
    WHERE p_brand = 'Brand#3' AND l_quantity < half_avg
    """,
    tags=("join", "agg", "subquery"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if orders
    below half a part's average quantity were not taken — the correlated
    per-part average gating the same table's rows.

    Decorrelated the way Catalyst itself would: the per-part average is
    one aggregate joined back on partkey (AQE/static broadcast — it is
    part-cardinality-sized).  The threshold is exactly reproducible
    cross-engine: quantities are integral doubles, so their per-part
    sums are EXACT regardless of order, and sum/count then ×0.5 is the
    same IEEE operation sequence in both engines — the float gate needs
    no rounding guard at all (documented contrast with every
    non-integral threshold in the suite).
    """
    l = load(spark, sf_dir, "lineitem")
    pavg = l.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(pavg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: qualifying suppliers via nested IN chains
# ---------------------------------------------------------------------------


@register(
    "q20_promo_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 300)
      AND s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    """,
    tags=("join", "subquery"),
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (qualifying suppliers, adapted: shipped PROMO
    volume instead of partsupp availability): suppliers in one region
    who moved more than a threshold volume of promo-type parts — two
    stacked IN subqueries, one carrying its own join+HAVING aggregate.

    Both INs lower to left-semi joins: the heavy one reduces lineitem
    to a qualifying-supplier key set first (aggregate before the semi,
    never the reverse), the regional one is a broadcast semi against
    25 nation rows.  Volume sums are integral-double exact.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    heavy = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_suppkey")
    )
    region_nations = load(spark, sf_dir, "nation").filter(
        F.col("n_regionkey") == 2
    ).select("n_nationkey")
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(heavy, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .join(
            F.broadcast(region_nations),
            F.col("n_nationkey") == F.col("s_nationkey"),
            "left_semi",
        )
        .select(
            "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: suppliers who alone held up multi-supplier orders
# ---------------------------------------------------------------------------


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
    JOIN orders      ON o_orderkey   = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
    tags=("join", "agg", "subquery"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): late lineitems on
    finished multi-supplier orders where the supplier was the ONLY late
    one — EXISTS plus NOT EXISTS over the same fact table, the hardest
    decorrelation shape in the TPC-H suite.

    Rather than two correlated passes, the engine computes one
    per-order summary — distinct suppliers and distinct LATE suppliers
    (late = shipped >90 days after the order date, evaluable inside the
    same orders join) — and gates l1 rows on (n_supp ≥ 2 AND
    n_late_supp = 1): given the row itself is late, "exactly one late
    supplier" IS "no OTHER late supplier".  Set-semantics equivalent to
    the oracle's EXISTS pair, one aggregation instead of two
    correlated scans — the rewrite a decorrelating optimizer aims for.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    per_order = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct(F.when(late, F.col("l_suppkey"))).alias(
                "n_late_supp"
            ),
        )
    )
    s = load(spark, sf_dir, "supplier")
    l1 = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(late)
        .join(
            per_order,
            (F.col("ok") == F.col("l_orderkey"))
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1),
        )
    )
    return (
        l1.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Order inter-arrival statistics (repeat-purchase cadence)
# ---------------------------------------------------------------------------


@register(
    "orders_interarrival_stats",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS gap_d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    gaps AS (SELECT o_custkey, CAST(gap_d AS BIGINT) AS gap_d
             FROM seq WHERE gap_d IS NOT NULL)
    SELECT o_custkey AS c_custkey,
           CAST(count(*) AS BIGINT)    AS n_gaps,
           CAST(min(gap_d) AS BIGINT)  AS min_gap_days,
           CAST(max(gap_d) AS BIGINT)  AS max_gap_days,
           round(avg(gap_d), 6)        AS avg_gap_days
    FROM gaps
    GROUP BY o_custkey
    HAVING count(*) >= 5
    """,
    tags=("window", "agg"),
)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per customer: the day gaps between
    consecutive orders (lag window), summarized min/max/mean for
    customers with enough history — the inter-arrival analysis behind
    churn prediction and reorder-reminder timing.

    One lag() pass on the custkey exchange, then a map-side-combinable
    aggregate over integer day gaps (datediff of date-truncated
    timestamps — exact in both engines, avg divides integers).  The
    ≥5-gap HAVING keeps the cadence estimate meaningful and the result
    deterministic.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.col("o_orderdate"), F.lag("o_orderdate").over(w)
    ).cast("long")
    gaps = o.select("o_custkey", gap.alias("gap_d")).filter(
        F.col("gap_d").isNotNull()
    )
    return (
        gaps.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_d").alias("min_gap_days"),
            F.max("gap_d").alias("max_gap_days"),
            F.round(F.avg("gap_d"), 6).alias("avg_gap_days"),
        )
        .filter(F.col("n_gaps") >= 5)
    )


# ---------------------------------------------------------------------------
# Q1: co-purchase similarity (bipartite projection of the order-part graph)
# ---------------------------------------------------------------------------


@register(
    "parts_copurchase_similarity",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    freq AS (SELECT p, CAST(count(*) AS BIGINT) AS f FROM op GROUP BY p),
    pairs AS (
      SELECT a.p AS part_a, b.p AS part_b, CAST(count(*) AS BIGINT) AS co
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
    ),
    scored AS (
      SELECT part_a, part_b, co,
             round(co / sqrt(1.0 * fa.f * fb.f), 6) AS cosine
      FROM pairs
      JOIN freq fa ON part_a = fa.p
      JOIN freq fb ON part_b = fb.p
      WHERE co >= 2
    )
    SELECT part_a, part_b, co, cosine
    FROM scored
    ORDER BY cosine DESC, part_a, part_b
    LIMIT 20
    """,
    tags=("join", "analytics", "ml"),
)
def parts_copurchase_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: item-item co-purchase similarity — the bipartite projection
    behind "customers who bought X also bought Y": distinct (order,
    part) incidences self-join on the order key, pair counts normalize
    by part frequencies (cosine over binary baskets), top-20 pairs with
    support ≥ 2.

    Scale shape: the self-join fans out per ORDER basket (TPC-H baskets
    are ≤7 lines, so pair mass is Σ basket² — bounded fanout, never
    |parts|²); frequency normalization is a broadcast-sized part-count
    join, and the final cut is TakeOrderedAndProject.  cosine =
    co/√(fa·fb) is one IEEE division of exact int64 counts.
    """
    li = load(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    op = op.localCheckpoint(eager=False)  # feeds freq + both join sides
    freq = op.groupBy("p").agg(F.count(F.lit(1)).alias("f"))
    a = op.select("o", F.col("p").alias("part_a"))
    b = op.select("o", F.col("p").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
    )
    scored = (
        pairs.join(
            F.broadcast(freq.select(F.col("p").alias("part_a"), F.col("f").alias("fa"))),
            "part_a",
        )
        .join(
            F.broadcast(freq.select(F.col("p").alias("part_b"), F.col("f").alias("fb"))),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "co",
            F.round(
                F.col("co") / F.sqrt(F.lit(1.0) * F.col("fa") * F.col("fb")),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.col("cosine").desc(), "part_a", "part_b"
    ).limit(20)


# ---------------------------------------------------------------------------
# Business-day fulfillment latency (closed-form weekday counting)
# ---------------------------------------------------------------------------


@register(
    "orders_businessday_latency",
    oracle="""
    WITH ful AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0,
             min(CAST(l_shipdate AS DATE)) AS d1
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
      GROUP BY 1, 2
    ),
    bd AS (
      -- brute-force weekday count over (d0, d1]: deliberately a
      -- DIFFERENT method than the engine's closed form
      SELECT o_orderkey,
             CAST(datediff('day', d0, d1) AS BIGINT) AS cal_days,
             (SELECT count(*) FROM unnest(generate_series(
                     d0 + INTERVAL 1 DAY, CAST(d1 AS TIMESTAMP),
                     INTERVAL 1 DAY)) AS t(day)
              WHERE isodow(day) <= 5) AS business_days
      FROM ful
    )
    SELECT CAST(business_days AS BIGINT) AS business_days,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cal_days) AS BIGINT) AS total_cal_days
    FROM bd GROUP BY 1 ORDER BY 1
    """,
    tags=("calendar", "agg"),
)
def orders_businessday_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment latency in BUSINESS days (weekdays in ``(order_date,
    first_ship_date]``) per order, rolled into a latency histogram — the
    SLA metric calendars make non-trivial.  The engine computes the
    weekday count in CLOSED FORM — ``5·(diff div 7)`` full weeks plus a
    two-term min/max expression for the partial week off the order
    date's weekday — while the oracle brute-forces it by exploding every
    day in the interval and filtering ``isodow ≤ 5``: agreement over
    every (weekday × remainder) combination in the data is the
    cross-method validation, not just cross-engine.

    Scale shape: the closed form is a pure per-row projection (no
    explode — an interval of YEARS costs the same as a week), after one
    map-side-combinable min-aggregate per order.  Orders whose lineitems
    all shipped before the order date (synthetic-fixture artifact) drop
    out in the WHERE, matching the oracle.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ful = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.to_date("l_shipdate") >= F.to_date("o_orderdate")
        )
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("d0"))
        .agg(F.min(F.to_date("l_shipdate")).alias("d1"))
    )
    diff = F.datediff(F.col("d1"), F.col("d0"))
    w0 = F.weekday(F.col("d0"))  # Monday = 0 .. Sunday = 6
    rem = diff % 7
    extra = F.greatest(F.lit(0), F.least(rem, F.lit(4) - w0)) + F.least(
        F.lit(5), F.greatest(F.lit(0), rem - (F.lit(6) - w0))
    )
    bd = (diff - rem) / F.lit(7) * 5 + extra
    return (
        ful.select(
            bd.cast("long").alias("business_days"),
            diff.cast("long").alias("cal_days"),
        )
        .groupBy("business_days")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cal_days").alias("total_cal_days"),
        )
        .orderBy("business_days")
    )


# ---------------------------------------------------------------------------
# Rank-migration matrix: customer revenue quintile, early vs late period
# ---------------------------------------------------------------------------


@register(
    "customers_quintile_migration",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS c,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    ),
    b AS (
      SELECT o_custkey AS c,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      GROUP BY 1
    ),
    qa AS (SELECT c, ntile(5) OVER (ORDER BY cents, c) AS q_early FROM a),
    qb AS (SELECT c, ntile(5) OVER (ORDER BY cents, c) AS q_late  FROM b)
    SELECT qa.q_early, qb.q_late,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM qa JOIN qb USING (c)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("window", "rank", "agg"),
)
def customers_quintile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-migration matrix: each customer's revenue QUINTILE in the
    early period (orders before 1998) versus the late period (1998+),
    counted into the 5×5 transition matrix — the mobility analysis
    behind "are our top-spenders the same people as last year?" (heavy
    diagonal = stable ranking, heavy corners = churn-and-replace).

    Quintiles are ntile(5) over (cents, custkey) — a TOTAL order, so the
    cut is deterministic — computed per period with the banded global
    rank (``global_order_stats``) + arithmetic ``ntile_from_rank``, never
    a partition-less ntile window: the per-customer aggregate grows with
    the data, and the migration matrix is exactly the query shape that
    tempts a global ntile at fact-aggregate scale.  Integer cents, one
    hash aggregate per period, equi-join on customer, 25-row output.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )

    def quintiles(period_df: DataFrame, alias: str) -> DataFrame:
        agg = period_df.groupBy(F.col("o_custkey").alias("c")).agg(
            F.sum(round_half_up(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
        ranked = global_order_stats(
            agg, [("cents", "asc"), ("c", "asc")], rank="_rk", key=["c"]
        )
        n = ranked.agg(F.count(F.lit(1)).alias("_n"))
        from lambda_arc_events_filter_spark.functions.rank import (
            ntile_from_rank,
        )

        return ranked.crossJoin(F.broadcast(n)).select(
            "c",
            ntile_from_rank(F.col("_rk"), F.col("_n"), 5).alias(alias),
        )

    early = quintiles(
        o.filter(F.col("o_orderdate") < "1998-01-01"), "q_early"
    )
    late = quintiles(
        o.filter(F.col("o_orderdate") >= "1998-01-01"), "q_late"
    )
    return (
        early.join(late, "c")
        .groupBy("q_early", "q_late")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("q_early", "q_late")
    )


# ---------------------------------------------------------------------------
# Price-volume bridge (PVM decomposition) between two years
# ---------------------------------------------------------------------------


@register(
    "brand_pvm_bridge",
    oracle="""
    WITH yr AS (
      SELECT p_brand AS brand,
             CAST(year(l_shipdate) AS INT) AS y,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE year(l_shipdate) IN (1996, 1997)
      GROUP BY 1, 2
    ),
    w AS (
      SELECT a.brand,
             a.q AS q1, a.r AS r1, b.q AS q2, b.r AS r2,
             CAST(a.r AS DOUBLE) / a.q AS p1,
             CAST(b.r AS DOUBLE) / b.q AS p2
      FROM yr a JOIN yr b ON a.brand = b.brand
      WHERE a.y = 1996 AND b.y = 1997
    )
    SELECT brand, r1 AS rev_1996_cents, r2 AS rev_1997_cents,
           r2 - r1 AS delta_cents,
           round((p2 - p1) * q2, 4) AS price_effect_cents,
           round((q2 - q1) * p1, 4) AS volume_effect_cents
    FROM w ORDER BY brand
    """,
    tags=("finance", "agg", "join"),
)
def brand_pvm_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge: decompose each brand's 1996→1997 revenue
    change into a PRICE effect ``(p₂−p₁)·q₂`` and a VOLUME effect
    ``(q₂−q₁)·p₁`` (average-price convention; the two terms sum to the
    revenue delta exactly in real arithmetic) — the waterfall slide
    behind every revenue review, done at warehouse scale.

    Scale shape: one map-side-combinable (brand, year) aggregate over
    the pushed-down two-year scan window (brand via broadcast part dim),
    then a self-equi-join of the ~|brands| aggregate rows — never a
    window.  Quantities and revenue accumulate as exact integers; the
    only floats are the two average prices and the effect products,
    identical op sequences in both engines, rounded to 4.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yr = (
        li.filter(F.year("l_shipdate").isin(1996, 1997))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("int").alias("y"),
        )
        .agg(
            F.sum(round_half_up(F.col("l_quantity")).cast("long")).alias("q"),
            F.sum(
                round_half_up(F.col("l_extendedprice") * 100).cast("long")
            ).alias("r"),
        )
    )
    a = yr.filter(F.col("y") == 1996).select(
        "brand",
        F.col("q").alias("q1"),
        F.col("r").alias("r1"),
        (F.col("r").cast("double") / F.col("q")).alias("p1"),
    )
    b = yr.filter(F.col("y") == 1997).select(
        "brand",
        F.col("q").alias("q2"),
        F.col("r").alias("r2"),
        (F.col("r").cast("double") / F.col("q")).alias("p2"),
    )
    return (
        a.join(b, "brand")
        .select(
            "brand",
            F.col("r1").alias("rev_1996_cents"),
            F.col("r2").alias("rev_1997_cents"),
            (F.col("r2") - F.col("r1")).alias("delta_cents"),
            F.round(
                (F.col("p2") - F.col("p1")) * F.col("q2"), 4
            ).alias("price_effect_cents"),
            F.round(
                (F.col("q2") - F.col("q1")) * F.col("p1"), 4
            ).alias("volume_effect_cents"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Fiscal-calendar spine with zero-fill (Feb-start fiscal year)
# ---------------------------------------------------------------------------


@register(
    "orders_fiscal_spine_zero_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
             CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
      FROM orders
    ),
    months AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH))
                  AS DATE) AS mon
      FROM bounds
    ),
    prios AS (SELECT DISTINCT o_orderpriority AS prio FROM orders),
    spine AS (SELECT mon, prio FROM months CROSS JOIN prios),
    actual AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             o_orderpriority AS prio,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    filled AS (
      SELECT s.mon, s.prio,
             coalesce(a.n, 0) AS n, coalesce(a.cents, 0) AS cents,
             year(s.mon - INTERVAL 1 MONTH) + 1 AS fy,
             (month(s.mon - INTERVAL 1 MONTH) - 1) // 3 + 1 AS fq
      FROM spine s LEFT JOIN actual a
        ON a.mon = s.mon AND a.prio = s.prio
    )
    SELECT CAST(fy AS BIGINT) AS fiscal_year, CAST(fq AS INT) AS fiscal_q,
           prio AS priority,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(count(*) FILTER (WHERE n = 0) AS BIGINT) AS n_zero_months,
           CAST(sum(n) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM filled GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    tags=("calendar", "agg"),
)
def orders_fiscal_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiscal-calendar reporting with a ZERO-FILLED spine: a generated
    (month × priority) grid spans the full order history, actual monthly
    aggregates left-join onto it, and empty cells surface as explicit
    zero rows — the absence-accounting every finance rollup needs (a
    GROUP BY alone silently drops dark months, understating nothing and
    hiding everything).  Fiscal year starts February 1 and is labeled by
    its ending year; quarters follow (Feb-Apr = Q1).

    Scale shape: the spine derives from a 1-row min/max aggregate
    exploded to |months|×|priorities| rows — bounded by the calendar and
    the enum, broadcastable forever; actuals are one map-side-combinable
    aggregate; the join is spine-side broadcast.  Fiscal labels are pure
    month arithmetic (shift one month back, integer-divide), identical
    in both engines.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    bounds = o.agg(
        F.trunc(F.min("o_orderdate"), "MM").alias("lo"),
        F.trunc(F.max("o_orderdate"), "MM").alias("hi"),
    )
    months = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("mon")
    )
    prios = o.select(F.col("o_orderpriority").alias("prio")).distinct()
    spine = months.crossJoin(prios)
    actual = o.groupBy(
        F.trunc("o_orderdate", "MM").alias("mon"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(round_half_up(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    shifted = F.add_months(F.col("mon"), -1)
    filled = (
        spine.join(actual, ["mon", "prio"], "left")
        .select(
            "prio",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("cents", F.lit(0)).alias("cents"),
            (F.year(shifted) + 1).cast("long").alias("fiscal_year"),
            (
                F.floor((F.month(shifted) - 1) / 3) + 1
            ).cast("int").alias("fiscal_q"),
        )
    )
    return (
        filled.groupBy("fiscal_year", "fiscal_q", F.col("prio").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.count(F.when(F.col("n") == 0, 1)).alias("n_zero_months"),
            F.sum("n").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("fiscal_year", "fiscal_q", "priority")
    )


# ---------------------------------------------------------------------------
# Deep pagination: page 100 rows at 2/3 depth of a global order
# ---------------------------------------------------------------------------


@register(
    "orders_deep_pagination",
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM orders),
    page AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rk
      FROM orders
    )
    SELECT rk AS page_rank, o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM page, n
    WHERE rk > 2 * n.n // 3 AND rk <= 2 * n.n // 3 + 100
    ORDER BY rk
    """,
    tags=("rank", "pagination"),
)
def orders_deep_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep pagination: the 100-row page starting at 2/3 depth of the
    orders ranked by price — ``ORDER BY … LIMIT 100 OFFSET k`` where k
    grows with the data, the query shape that breaks both naive plans:
    TakeOrdered must heap k+100 rows per partition (fine at page 3,
    fatal at row 10⁸), and a partition-less row_number window moves the
    whole relation to one task.

    The engine pages off the BANDED global rank (``global_order_stats``):
    one hash exchange, per-band local ranks + broadcast offsets, then a
    rank-range filter — at scale only the band(s) CONTAINING the page
    produce surviving rows, so the page cost tracks the band width, not
    the offset.  The page anchor (2n/3) is a 1-row broadcast; ties are
    broken by key so the page cut is deterministic.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        round_half_up(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    ranked = global_order_stats(
        o.select("o_orderkey", "o_totalprice"),
        [("o_totalprice", "desc"), ("o_orderkey", "asc")],
        rank="page_rank",
        key=["o_orderkey"],
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    anchor = F.call_function(
        "div",
        (F.lit(2) * F.col("n")).cast("decimal(38,0)"),
        F.lit(3).cast("decimal(38,0)"),
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .filter(
            (F.col("page_rank") > anchor)
            & (F.col("page_rank") <= anchor + 100)
        )
        .select(
            "page_rank",
            "o_orderkey",
            round_half_up(F.col("o_totalprice") * 100).cast("long").alias(
                "price_cents"
            ),
        )
        .orderBy("page_rank")
    )


# ---------------------------------------------------------------------------
# Frequent 3-itemsets (Apriori candidate step over order baskets)
# ---------------------------------------------------------------------------


@register(
    "orders_frequent_triples",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    freq AS (
      SELECT p FROM b GROUP BY p HAVING count(*) >= 2
    ),
    items AS (
      SELECT b.o, list(b.p ORDER BY b.p) AS ps
      FROM b JOIN freq USING (p)
      GROUP BY b.o HAVING count(*) >= 3
    ),
    tri AS (
      SELECT unnest(flatten(flatten(
               list_transform(range(1, len(ps) + 1), i ->
                 list_transform(range(i + 1, len(ps) + 1), j ->
                   list_transform(range(j + 1, len(ps) + 1), k ->
                     [ps[i], ps[j], ps[k]])))))) AS t
      FROM items
    )
    SELECT t[1] AS part_a, t[2] AS part_b, t[3] AS part_c,
           CAST(count(*) AS BIGINT) AS support
    FROM tri
    GROUP BY 1, 2, 3
    ORDER BY support DESC, part_a, part_b, part_c
    LIMIT 20
    """,
    tags=("itemsets", "agg"),
)
def orders_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemset mining (the Apriori candidate step): top-20
    part triples co-occurring in order baskets, with the
    anti-monotonicity prune applied first — an item in fewer than 2
    baskets cannot be in any support-2 triple, so it leaves before any
    candidate forms — the market-basket primitive one level up from
    ``events_assoc_lift``'s pairs.

    The candidate generation is IN-ROW: each basket folds to its sorted
    frequent-item array and a nested ``transform`` emits the C(|b|,3)
    index triples — no self-join anywhere.  That is the scale lesson
    this operator teaches twice over: the first cut (bf ⋈ bf ⋈ bf on
    the basket key with ``<`` residuals) was correct and fast on Spark
    (hash joins on ``o``, inequality as residual) but DuckDB's optimizer
    drove the SAME SQL through an inequality-first IEJoin — a 60k×60k
    blow-up measured at 89 GB — so the operator was redesigned to the
    join-free form BOTH engines execute as written.  Fanout is
    Σ_basket C(|b|,3), bounded by the basket-size cap, then one
    map-side-combinable count and a deterministic TakeOrdered top-20.
    """
    b = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = b.localCheckpoint(eager=False)
    freq = (
        b.groupBy("p")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") >= 2)
        .select("p")
    )
    items = (
        b.join(freq, "p")
        .groupBy("o")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .filter(F.size("ps") >= 3)
    )
    tri = items.select(
        F.explode(
            F.expr(
                """
                flatten(flatten(
                  transform(sequence(0, size(ps) - 1), i ->
                    transform(slice(sequence(0, size(ps) - 1), i + 2,
                                    size(ps) - 1 - i), j ->
                      transform(slice(sequence(0, size(ps) - 1), j + 2,
                                      size(ps) - 1 - j), k ->
                        array(ps[i], ps[j], ps[k]))))))
                """
            )
        ).alias("t")
    )
    return (
        tri.select(
            F.col("t")[0].alias("part_a"),
            F.col("t")[1].alias("part_b"),
            F.col("t")[2].alias("part_c"),
        )
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b", "part_c")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Diversified top-k (global top with a per-group quota)
# ---------------------------------------------------------------------------


@register(
    "orders_diversified_topk",
    oracle="""
    WITH per AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS cust_rank
      FROM orders
    )
    SELECT o_orderkey, o_custkey, price_cents, CAST(cust_rank AS BIGINT)
             AS cust_rank
    FROM per
    WHERE cust_rank <= 2
    ORDER BY price_cents DESC, o_orderkey
    LIMIT 20
    """,
    tags=("rank", "topk"),
)
def orders_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k: the 20 highest-value orders subject to a ≤2-
    per-customer quota — the search/feed diversification constraint
    (never let one heavy account monopolize the leaderboard) that a
    plain ``ORDER BY LIMIT`` cannot express.

    Scale shape: the quota is a customer-PARTITIONED rank (Spark plans
    the rn ≤ 2 filter as WindowGroupLimit — each partition keeps at most
    2 rows per customer before the full window evaluates), then the
    global cut is TakeOrderedAndProject over the quota survivors.  Both
    operators are bounded-memory at any volume; no global sort, no
    single-partition window.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        round_half_up(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("cust_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("cust_rank") <= 2)
        .select("o_orderkey", "o_custkey", "price_cents", "cust_rank")
        .orderBy(F.desc("price_cents"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Order-value reconciliation (header vs line-sum consistency audit)
# ---------------------------------------------------------------------------


@register(
    "orders_value_reconciliation",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY 1
    ),
    cmp AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS header_cents,
             coalesce(line_cents, 0) AS line_cents,
             CASE WHEN line_cents IS NULL THEN 'no_lines'
                  WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                       = line_cents THEN 'exact'
                  WHEN abs(CAST(round(o_totalprice * 100) AS BIGINT)
                           - line_cents)
                       * 100 <= CAST(round(o_totalprice * 100) AS BIGINT)
                       THEN 'within_1pct'
                  ELSE 'mismatch' END AS status
      FROM orders LEFT JOIN lines ON l_orderkey = o_orderkey
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(header_cents) AS BIGINT) AS header_cents,
           CAST(sum(line_cents) AS BIGINT) AS line_cents,
           CAST(sum(abs(header_cents - line_cents)) AS BIGINT)
             AS abs_drift_cents
    FROM cmp GROUP BY status ORDER BY status
    """,
    tags=("dq", "agg", "join"),
)
def orders_value_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail value reconciliation: every order's header total
    against the sum of its line amounts, bucketed exact / within-1% /
    mismatch / no-lines with drift accounting — the financial-close DQ
    audit one level above referential integrity (keys can all resolve
    while the MONEY disagrees).

    Scale shape: one map-side-combinable line rollup, a key equi-join
    (left, to surface headerless... line-less orders), in-row integer
    comparisons — the 1% band as ``|Δ|·100 ≤ header`` keeps even the
    tolerance integer-exact, no float thresholds to disagree on.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lines = li.groupBy("l_orderkey").agg(
        F.sum(
            round_half_up(F.col("l_extendedprice") * 100).cast("long")
        ).alias("line_cents")
    )
    header = round_half_up(F.col("o_totalprice") * 100).cast("long")
    cmp = o.join(
        lines, F.col("l_orderkey") == F.col("o_orderkey"), "left"
    ).select(
        header.alias("header_cents"),
        F.coalesce("line_cents", F.lit(0)).alias("line_cents_f"),
        F.when(F.col("line_cents").isNull(), "no_lines")
        .when(header == F.col("line_cents"), "exact")
        .when(
            F.abs(header - F.col("line_cents")) * 100 <= header,
            "within_1pct",
        )
        .otherwise("mismatch")
        .alias("status"),
    )
    return (
        cmp.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("header_cents").alias("header_cents"),
            F.sum("line_cents_f").alias("line_cents"),
            F.sum(
                F.abs(F.col("header_cents") - F.col("line_cents_f"))
            ).alias("abs_drift_cents"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction with measured false-positive rate
# ---------------------------------------------------------------------------


@register(
    "orders_bloom_semijoin_reduction",
    oracle="""
    WITH dim AS (
      SELECT c_custkey AS k FROM customer
      JOIN nation ON n_nationkey = c_nationkey
      WHERE n_name = 'CHINA'
    ),
    bits AS (
      SELECT list_sort(list_distinct(flatten(list(
               [(ascii(substr(md5(CAST(k AS VARCHAR)), 1, 1)) * 31
                 + ascii(substr(md5(CAST(k AS VARCHAR)), 2, 1))) % 4096,
                (ascii(substr(md5(CAST(k AS VARCHAR)), 3, 1)) * 31
                 + ascii(substr(md5(CAST(k AS VARCHAR)), 4, 1))) % 4096,
                (ascii(substr(md5(CAST(k AS VARCHAR)), 5, 1)) * 31
                 + ascii(substr(md5(CAST(k AS VARCHAR)), 6, 1))) % 4096]
             )))) AS bs
      FROM dim
    ),
    probe AS (
      SELECT o_orderkey, o_custkey,
             list_contains(bs,
               (ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 2, 1)))
               % 4096)
             AND list_contains(bs,
               (ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 3, 1)) * 31
                + ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 4, 1)))
               % 4096)
             AND list_contains(bs,
               (ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 5, 1)) * 31
                + ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 6, 1)))
               % 4096) AS candidate,
             EXISTS (SELECT 1 FROM dim WHERE dim.k = o_custkey) AS actual
      FROM orders, bits
    )
    SELECT CAST(count(*) AS BIGINT) AS n_fact,
           CAST(count(*) FILTER (WHERE candidate) AS BIGINT) AS n_candidates,
           CAST(count(*) FILTER (WHERE actual) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (WHERE candidate AND NOT actual) AS BIGINT)
             AS n_false_positives,
           CAST(count(*) FILTER (WHERE actual AND NOT candidate) AS BIGINT)
             AS n_missed
    FROM probe
    """,
    tags=("join", "sketch"),
)
def orders_bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction, measured: build a k=3, m=4096
    Bloom filter over the filtered dimension's keys (Chinese customers),
    probe every order BEFORE the join, and count candidates vs the exact
    semi-join — the runtime-row-filter idea (Spark's own
    ``runtime.bloomFilter`` optimization, Exadata's storage offload)
    made explicit and verifiable.  ``n_missed`` must be 0 (Bloom filters
    never false-negative — the oracle proves it on every run); the FP
    count is what the m/k sizing buys.

    Scale shape: the filter builds as ONE aggregate over the dim scan
    (distinct sorted position list, ≤ m entries) and broadcasts as a
    1-row relation; the probe is in-row hash + sorted-array membership —
    the fact table never shuffles for the pre-filter.  Portable md5
    hash family, so engine and oracle compute identical bits.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = (
        c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .filter(F.col("n_name") == "CHINA")
        .select(F.col("c_custkey").alias("k"))
    )

    def positions(col):
        h = F.md5(col.cast("string"))
        return [
            (
                (
                    F.ascii(F.substring(h, 2 * i - 1, 1)) * 31
                    + F.ascii(F.substring(h, 2 * i, 1))
                )
                % 4096
            )
            for i in (1, 2, 3)
        ]

    bits = dim.select(
        F.array(*positions(F.col("k"))).alias("ps")
    ).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("ps")))
        ).alias("bs")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p1, p2, p3 = positions(F.col("o_custkey"))
    probe = (
        o.crossJoin(F.broadcast(bits))
        .join(
            dim.withColumnRenamed("k", "o_custkey").withColumn(
                "_hit", F.lit(1)
            ),
            "o_custkey",
            "left",
        )
        .select(
            (
                F.array_contains("bs", p1)
                & F.array_contains("bs", p2)
                & F.array_contains("bs", p3)
            ).alias("candidate"),
            F.col("_hit").isNotNull().alias("actual"),
        )
    )
    return probe.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.count(F.when(F.col("candidate"), 1)).alias("n_candidates"),
        F.count(F.when(F.col("actual"), 1)).alias("n_true"),
        F.count(
            F.when(F.col("candidate") & ~F.col("actual"), 1)
        ).alias("n_false_positives"),
        F.count(
            F.when(F.col("actual") & ~F.col("candidate"), 1)
        ).alias("n_missed"),
    )


# ---------------------------------------------------------------------------
# Mix-shift decomposition (within-segment vs composition effects)
# ---------------------------------------------------------------------------


@register(
    "orders_mix_shift_decomposition",
    oracle="""
    WITH seg AS (
      SELECT o_orderpriority AS segment,
             CAST(year(o_orderdate) AS INT) AS y,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) IN (1996, 1997)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT y, CAST(sum(n) AS BIGINT) AS nt FROM seg GROUP BY 1
    ),
    w AS (
      SELECT s.segment,
             max(CASE WHEN s.y = 1996 THEN CAST(s.n AS DOUBLE) / t.nt END)
               AS w1,
             max(CASE WHEN s.y = 1997 THEN CAST(s.n AS DOUBLE) / t.nt END)
               AS w2,
             max(CASE WHEN s.y = 1996
                      THEN CAST(s.cents AS DOUBLE) / s.n END) AS m1,
             max(CASE WHEN s.y = 1997
                      THEN CAST(s.cents AS DOUBLE) / s.n END) AS m2
      FROM seg s JOIN tot t USING (y)
      GROUP BY s.segment
    )
    SELECT segment,
           round(w1, 6) AS share_1996, round(w2, 6) AS share_1997,
           round(m1, 4) AS avg_cents_1996, round(m2, 4) AS avg_cents_1997,
           round(w1 * (m2 - m1), 4) AS within_effect,
           round((w2 - w1) * m2, 4) AS mix_effect
    FROM w ORDER BY segment
    """,
    tags=("finance", "agg"),
)
def orders_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift decomposition (the Oaxaca/index-number identity): the
    1996→1997 change in overall average order value splits EXACTLY into
    per-segment WITHIN effects (same mix, new averages: w₁·Δm) and MIX
    effects (new averages, shifted composition: Δw·m₂), summing to the
    total change by the telescoping identity Σw₂m₂ − Σw₁m₁ =
    Σw₁(m₂−m₁) + Σ(w₂−w₁)m₂ — the "did we get better, or did our mix
    change?" decomposition every revenue and people-analytics review
    runs.

    One (segment, year) integer aggregate over the pushed-down two-year
    scan; shares and means are identical-op float ratios of exact
    integers on a |segments|-row relation.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    seg = (
        o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_orderpriority").alias("segment"),
            F.year("o_orderdate").cast("int").alias("y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                round_half_up(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
    )
    tot = seg.groupBy("y").agg(F.sum("n").alias("nt"))
    j = seg.join(F.broadcast(tot), "y")
    share = F.col("n").cast("double") / F.col("nt")
    mean = F.col("cents").cast("double") / F.col("n")
    w = j.groupBy("segment").agg(
        F.max(F.when(F.col("y") == 1996, share)).alias("w1"),
        F.max(F.when(F.col("y") == 1997, share)).alias("w2"),
        F.max(F.when(F.col("y") == 1996, mean)).alias("m1"),
        F.max(F.when(F.col("y") == 1997, mean)).alias("m2"),
    )
    return w.select(
        "segment",
        F.round("w1", 6).alias("share_1996"),
        F.round("w2", 6).alias("share_1997"),
        F.round("m1", 4).alias("avg_cents_1996"),
        F.round("m2", 4).alias("avg_cents_1997"),
        F.round(F.col("w1") * (F.col("m2") - F.col("m1")), 4).alias(
            "within_effect"
        ),
        F.round((F.col("w2") - F.col("w1")) * F.col("m2"), 4).alias(
            "mix_effect"
        ),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Top-N per group with an OTHER rollup bucket
# ---------------------------------------------------------------------------


@register(
    "parts_topn_with_other",
    oracle="""
    WITH rev AS (
      SELECT p_brand AS brand, l_partkey AS part,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY brand
                                   ORDER BY cents DESC, part) AS r
      FROM rev
    )
    SELECT brand, CAST(part AS VARCHAR) AS line, CAST(r AS BIGINT) AS rank,
           cents, CAST(1 AS BIGINT) AS n_parts
    FROM rk WHERE r <= 3
    UNION ALL
    SELECT brand, 'OTHER', 4,
           CAST(sum(cents) AS BIGINT), CAST(count(*) AS BIGINT)
    FROM rk WHERE r > 3
    GROUP BY brand
    ORDER BY brand, rank
    """,
    tags=("rank", "topk", "agg"),
)
def parts_topn_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by revenue plus an explicit OTHER rollup
    row (residual revenue + how many parts it hides) — the reporting
    contract every drill-down dashboard needs: the top-N cut must not
    silently drop the tail, because Σ(top rows + OTHER) must reconcile
    to the brand total.

    Scale shape: one integer aggregate to (brand, part), a
    brand-partitioned rank (the rn ≤ 3 side plans as WindowGroupLimit),
    and the tail side re-aggregates the SAME ranked relation — two
    consumers of one exchange, no second fact scan.  Deterministic
    tie-break by part key.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"), F.col("l_partkey").alias("part")
        )
        .agg(
            F.sum(
                round_half_up(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    rk = rev.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("brand").orderBy(F.desc("cents"), F.asc("part"))
        ),
    ).localCheckpoint(eager=False)
    top = rk.filter(F.col("r") <= 3).select(
        "brand",
        F.col("part").cast("string").alias("line"),
        F.col("r").cast("long").alias("rank"),
        "cents",
        F.lit(1).cast("long").alias("n_parts"),
    )
    other = (
        rk.filter(F.col("r") > 3)
        .groupBy("brand")
        .agg(
            F.sum("cents").alias("cents"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .select(
            "brand",
            F.lit("OTHER").alias("line"),
            F.lit(4).cast("long").alias("rank"),
            "cents",
            "n_parts",
        )
    )
    return top.unionByName(other).orderBy("brand", "rank")


# ---------------------------------------------------------------------------
# Duplicate-payment screen (same payer, same cents, within 1 day)
# ---------------------------------------------------------------------------


@register(
    "orders_duplicate_payment_screen",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey AS c,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS d
      FROM orders
    ),
    o AS (
      SELECT * FROM base
      UNION ALL
      SELECT k + 1000000000, c, cents, CAST(d + INTERVAL 1 DAY AS DATE)
      FROM base WHERE k % 97 = 0
    ),
    pairs AS (
      SELECT a.c AS custkey, a.k AS order_a, b.k AS order_b,
             a.cents, abs(datediff('day', a.d, b.d)) AS gap_days
      FROM o a JOIN o b
        ON a.c = b.c AND a.cents = b.cents AND a.k < b.k
      WHERE abs(datediff('day', a.d, b.d)) <= 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT custkey) AS BIGINT) AS n_customers,
           CAST(coalesce(sum(cents), 0) AS BIGINT) AS exposure_cents,
           CAST(count(*) FILTER (WHERE gap_days = 0) AS BIGINT)
             AS n_same_day
    FROM pairs
    """,
    tags=("dedup", "join", "dq"),
)
def orders_duplicate_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screening — the accounts-payable fraud/defect
    audit: pairs of orders by the SAME customer for the SAME amount (in
    exact cents) within ±1 day, with pair, customer, and exposure
    accounting — retries, double-clicks, and double-billing all surface
    here before reconciliation (the value twin of the record-linkage
    family's identity matching).  The fixture's amounts are
    near-unique, so a deterministic 1/97 duplicate slice is planted
    (next-day resubmissions, the replica-synthesis pattern) — the
    screen must recover exactly that planted population.

    Scale shape: candidates come from an EQUI-join on the composite
    (customer, cents) key — the blocking that makes this linear-ish
    (pair cost tracks Σ per-key count², and a same-customer-same-amount
    key is near-unique by construction); the ±1-day window is a cheap
    residual predicate, never the join driver (the IEJoin trap the
    Apriori redesign documented).  ``a.k < b.k`` canonicalizes pairs.
    """
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        round_half_up(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("d"),
    )
    o = base.unionAll(
        base.filter(F.col("k") % 97 == 0).select(
            (F.col("k") + 1_000_000_000).alias("k"),
            "c",
            "cents",
            F.date_add("d", 1).alias("d"),
        )
    )
    a = o.select(
        F.col("k").alias("order_a"),
        F.col("c").alias("custkey"),
        "cents",
        F.col("d").alias("da"),
    )
    b = o.select(
        F.col("k").alias("order_b"),
        F.col("c").alias("custkey_b"),
        F.col("cents").alias("cents_b"),
        F.col("d").alias("db"),
    )
    pairs = (
        a.join(
            b,
            (F.col("custkey") == F.col("custkey_b"))
            & (F.col("cents") == F.col("cents_b")),
        )
        .filter(F.col("order_a") < F.col("order_b"))
        .filter(F.abs(F.datediff("da", "db")) <= 1)
        .select(
            "custkey",
            "cents",
            F.abs(F.datediff("da", "db")).alias("gap_days"),
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("custkey").alias("n_customers"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("exposure_cents"),
        F.count(F.when(F.col("gap_days") == 0, 1)).alias("n_same_day"),
    )


# ---------------------------------------------------------------------------
# Label propagation over the co-purchase graph (semi-supervised spreading)
# ---------------------------------------------------------------------------


@register(
    "graph_label_propagation",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS co
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    edges AS (
      SELECT pa AS src, pb AS dst, co FROM pairs
      UNION ALL SELECT pb, pa, co FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (
      SELECT n.node, p.p_brand AS label
      FROM nodes n JOIN part p ON p.p_partkey = n.node
      WHERE n.node % 3 = 0
    ),
    v1 AS (
      SELECT e.src AS node, l0.label, sum(e.co) AS w
      FROM edges e
      JOIN l0 ON l0.node = e.dst
      LEFT JOIN l0 s ON s.node = e.src
      WHERE s.node IS NULL
      GROUP BY 1, 2
    ),
    p1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY w DESC, label) AS rn
        FROM v1) WHERE rn = 1
    ),
    l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM p1),
    v2 AS (
      SELECT e.src AS node, l1.label, sum(e.co) AS w
      FROM edges e
      JOIN l1 ON l1.node = e.dst
      LEFT JOIN l1 s ON s.node = e.src
      WHERE s.node IS NULL
      GROUP BY 1, 2
    ),
    p2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY w DESC, label) AS rn
        FROM v2) WHERE rn = 1
    )
    SELECT n.node AS p_partkey,
           coalesce(l0.label, p1.label, p2.label) AS label,
           CASE WHEN l0.label IS NOT NULL THEN 0
                WHEN p1.label IS NOT NULL THEN 1
                WHEN p2.label IS NOT NULL THEN 2 END AS labeled_round
    FROM nodes n
    LEFT JOIN l0 ON l0.node = n.node
    LEFT JOIN p1 ON p1.node = n.node
    LEFT JOIN p2 ON p2.node = n.node
    """,
    tags=("graph", "ml", "analytics"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised LABEL PROPAGATION over the co-purchase graph —
    the graph-algorithm class the registry's CC / PageRank / triangle
    family doesn't cover: a third of parts arrive labeled (brand, the
    seed set), and labels spread to unlabeled neighbors by
    weight-majority vote (edge weight = co-purchase count) for two
    synchronous rounds.  Frozen-front variant: seeds are clamped and a
    node freezes at its first label — deterministic by construction
    (ties break on (weight DESC, label ASC)), which is the property that
    makes the operator oracle-able where classic oscillating LP is not.

    Per round: one edges ⋈ labeled-frontier hash join (the label
    relation is the small side and only grows by the newly-frozen
    front), an anti-join mask of already-labeled nodes, a (node, label)
    weight aggregate, and a WindowGroupLimit argmax — all keyed by node
    id, no global structure.  Pair mass is Σ basket² (bounded fanout,
    the ``parts_copurchase_similarity`` scale note), and rounds unroll
    exactly like the PageRank/k-means precedents (broadcast-or-keyed
    per-round joins, no driver mutation).
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    op = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = op.select(F.col("o"), F.col("p").alias("pa"))
    b = op.select(F.col("o"), F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst"), "co"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("src"), F.col("pa").alias("dst"), "co"
        )
    ).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    l0 = (
        nodes.filter(F.col("node") % 3 == 0)
        .join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("node"),
                    F.col("p_brand").alias("label"),
                )
            ),
            "node",
        )
    )

    def spread(labeled: DataFrame) -> DataFrame:
        cand = (
            edges.join(
                labeled.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .join(
                labeled.select(F.col("node").alias("src")),
                "src",
                "left_anti",
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.sum("co").alias("w"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("w").desc(), F.col("label")
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )

    p1 = spread(l0.select("node", "label"))
    l1 = l0.select("node", "label").unionAll(p1)
    p2 = spread(l1)
    return (
        nodes.join(
            l0.select("node", F.col("label").alias("lab0")), "node", "left"
        )
        .join(p1.select("node", F.col("label").alias("lab1")), "node", "left")
        .join(p2.select("node", F.col("label").alias("lab2")), "node", "left")
        .select(
            F.col("node").alias("p_partkey"),
            F.coalesce("lab0", "lab1", "lab2").alias("label"),
            F.when(F.col("lab0").isNotNull(), 0)
            .when(F.col("lab1").isNotNull(), 1)
            .when(F.col("lab2").isNotNull(), 2)
            .alias("labeled_round"),
        )
    )
