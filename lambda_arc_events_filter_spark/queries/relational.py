"""Relational core queries — SURVEY.md §2 B1-B2, B7-B30, B35-B41.

Each query pairs an idiomatic-DataFrame implementation with a DuckDB oracle.
Scale notes are inline: dims broadcast, aggregations are partial+final
(map-side combine) by construction, filters/projections reach the parquet
scan via Catalyst pushdown.

Float parity: any float produced by an aggregation is wrapped in
``round(x, k)`` on BOTH sides — Spark and DuckDB may sum doubles in
different orders, and rounding collapses the ulp drift the driver's exact
value-hash would otherwise see.  Sums of integer-valued doubles (quantities)
are exact and left unrounded.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import (
    round_half_up,
    round_int_ratio,
)
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (B1 scan, B8 filter, B23 agg,
# B35 sort in one query).  At 100 TB: single scan, partial aggregation on
# (returnflag, linestatus) — 6 groups — so the shuffle is a few KB.
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                   AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)) / 1e2, 2)
                                                             AS sum_base_price,
           ((2 * sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e4)
                     AS BIGINT)) + 100) // 200) / 100.0      AS sum_disc_price,
           ((2 * sum(CAST(round(l_extendedprice * (1 - l_discount)
                                * (1 + l_tax) * 1e6)
                     AS BIGINT)) + 10000) // 20000) / 100.0  AS sum_charge,
           (2 * CAST(sum(l_quantity) AS BIGINT) * 1000000 + count(*))
                 // (2 * count(*)) / 1000000.0               AS avg_qty,
           (2 * sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)) * 10000
                 + count(*)) // (2 * count(*)) / 1000000.0   AS avg_price,
           (2 * sum(CAST(round(l_discount * 1e2) AS BIGINT)) * 10000
                 + count(*)) // (2 * count(*)) / 1000000.0   AS avg_disc,
           count(*)                                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: filtered scan → 6-group hash aggregate.

    Money aggregates accumulate in SCALED INTEGERS (cents / 1e-4 / 1e-6
    units — every measure is an exact short decimal, so ``round(x·10^k)``
    recovers its exact integer form and the sum is order-independent in
    both engines).  Plain ``round(sum(double), 2)`` passed for two rounds
    at sf0.01 but flipped a half-cent boundary on the 54 k-row groups of
    the sf0.1 stress sweep — with ~600 k rows the sum's last retained
    digit sits within float-order drift of .005 often enough to bite.
    Quantity sums stay plain doubles: integral values ≤2^53 sum exactly
    in any order.

    The three ``avg_*`` columns are rounded by INTEGER half-up division
    (``functions/exact.round_int_ratio``), never ``round(double, 6)``:
    an integer ratio like ``3201¢ / 32`` is a TRUE decimal half at the
    7th place, where Spark's string-based Round and DuckDB's binary
    round split deterministically (found by
    ``tests/test_properties.py::test_q01_half_boundary_parity``).
    The per-row scaling goes through ``exact.round_half_up``, which equals
    ``F.round`` on a double without Spark's per-value BigDecimal (4 calls
    a row were most of the scan stage's task CPU).

    The final aggregate and the sort run in ONE task (``coalesce(1)``
    before ``orderBy``): the sort input is the 6 flag×status groups at
    any scale, so a range exchange would buy a sampling job and two
    16-task stages to order 6 rows (``tests/test_plans.py``
    ``test_one_task_sort_inputs_are_bounded`` pins the domain).
    """
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    base_c = F.sum(round_half_up(F.col("l_extendedprice") * 1e2).cast("long"))
    disc_c = F.sum(round_half_up(disc_price * 1e4).cast("long"))
    charge_c = F.sum(round_half_up(charge * 1e6).cast("long"))
    discount_c = F.sum(round_half_up(F.col("l_discount") * 1e2).cast("long"))
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(base_c / 1e2, 2).alias("sum_base_price"),
            round_int_ratio(disc_c, F.lit(1), 2, a_scale=4).alias(
                "sum_disc_price"
            ),
            round_int_ratio(charge_c, F.lit(1), 2, a_scale=6).alias(
                "sum_charge"
            ),
            round_int_ratio(F.sum("l_quantity"), n, 6).alias("avg_qty"),
            round_int_ratio(base_c, n, 6, a_scale=2).alias("avg_price"),
            round_int_ratio(discount_c, n, 6, a_scale=2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .coalesce(1)
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# B7-B13 — projections, filters, predicates.  All of these compile to
# Catalyst predicates that push down into the parquet scan (verified via
# .explain → PushedFilters in tests/test_plans.py).
# ---------------------------------------------------------------------------


@register(
    "filter_comparisons",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_tax <> 0.0
      AND l_extendedprice < 80000
    """,
    tags=("filter",),
)
def filter_comparisons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison predicates (> >= <> <) + computed projection."""
    l = load(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_quantity") > 45)
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_tax") != 0.0)
        & (F.col("l_extendedprice") < 80000)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
    )


@register(
    "filter_boolean_membership",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE (o_orderstatus IN ('F', 'P') OR o_totalprice BETWEEN 1000 AND 5000)
      AND NOT (o_orderpriority = '1-URGENT')
    """,
    tags=("filter",),
)
def filter_boolean_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT combinators + IN + BETWEEN."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        (
            F.col("o_orderstatus").isin("F", "P")
            | F.col("o_totalprice").between(1000, 5000)
        )
        & ~(F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@register(
    "filter_patterns",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type
    FROM part
    WHERE p_type LIKE '%ECO%'
       OR regexp_matches(p_name, '^(red|blue) (bolt|gear)')
    """,
    tags=("filter",),
)
def filter_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE and regexp predicates on part descriptors."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%ECO%")
        | F.col("p_name").rlike("^(red|blue) (bolt|gear)")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


@register(
    "filter_null_semantics",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 100000 THEN o_orderpriority END AS high_prio,
           coalesce(CASE WHEN o_totalprice > 100000 THEN o_orderpriority END,
                    'none') AS high_prio_filled,
           (CASE WHEN o_totalprice > 100000 THEN o_orderpriority END
              IS NOT DISTINCT FROM o_orderpriority) AS prio_match
    FROM orders
    WHERE o_custkey IS NOT NULL
    """,
    tags=("filter",),
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] NULL, null-safe equality, coalesce over an induced NULL."""
    o = load(spark, sf_dir, "orders")
    high = F.when(F.col("o_totalprice") > 100000, F.col("o_orderpriority"))
    return o.filter(F.col("o_custkey").isNotNull()).select(
        "o_orderkey",
        high.alias("high_prio"),
        F.coalesce(high, F.lit("none")).alias("high_prio_filled"),
        high.eqNullSafe(F.col("o_orderpriority")).alias("prio_match"),
    )


@register(
    "case_when_buckets",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000  THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           count(*)                     AS n,
           round(sum(o_totalprice), 2)  AS total
    FROM orders
    GROUP BY 1
    """,
    tags=("filter", "agg"),
)
def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing feeding an aggregate."""
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# B14-B22 — joins.  Dim joins broadcast explicitly (SURVEY.md §4: at 100 TB
# region/nation/supplier stay tiny while facts grow); fact-fact joins rely on
# sort-merge + AQE.
# ---------------------------------------------------------------------------


@register(
    "join_inner_orders_customer",
    oracle="""
    SELECT c.c_mktsegment,
           count(*)                    AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("join",),
)
def join_inner_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders ⋈ customer, aggregated per market segment."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey)                       AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one big order (EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent order (NOT EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_broadcast_dims",
    oracle="""
    SELECT r.r_name, n.n_name, count(*) AS n_customers,
           round(avg(c.c_acctbal), 6) AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "broadcast"),
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact→dim→dim chain with explicit broadcast of both dims.

    At 100 TB the customer side is huge while nation(25)/region(5) are
    constant-size: broadcasting both removes two shuffles entirely — the
    whole join runs map-side inside one stage.
    """
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
    )


@register(
    "join_multiway_star",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
    tags=("join", "flagship"),
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way star join: region→nation→customer→orders→lineitem.

    Join order matters at scale: the join tree is FACT-FIRST (lineitem is
    the streaming side of every join), so the big table is never a build
    side.  Round-1's dim-anchored tree made Spark broadcast lineitem itself
    (600k rows hashed on the driver — 0.8 s at sf0.1, a scale inversion);
    fact-first + AQE picks broadcast for the filtered orders/customer sides
    while they fit and degrades to a shuffled join on o_orderkey when they
    don't — the right plan at both sf0.1 and 100 TB.  Measured 0.80 s →
    0.33 s warm at sf0.1.

    The result is one row per nation (at most 25 at any scale), so the
    final aggregate and the sort share one task (``coalesce(1)`` before
    ``orderBy``) instead of a range exchange with its sampling job
    (``test_one_task_sort_inputs_are_bounded`` pins the bound).
    """
    r = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    )
    n = F.broadcast(load(spark, sf_dir, "nation"))
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .coalesce(1)
        .orderBy(F.col("revenue").desc())
    )


@register(
    "join_cross_small",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    WHERE r.r_regionkey <> n.n_regionkey
    """,
    tags=("join",),
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarded Cartesian product of the two constant-size dims (5×25)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).filter(F.col("r_regionkey") != F.col("n_regionkey")).select(
        "r_name", "n_name"
    )


@register(
    "join_range_theta",
    oracle="""
    SELECT o.o_orderkey, o.o_orderpriority, count(*) AS n_shipped_window
    FROM orders o
    JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-03-08 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderpriority
    """,
    tags=("join", "range"),
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (theta) join: per order in a week slice, count ALL lineitems
    shipped in the 7 days after its order date.

    No equi key exists, so naively this is a BroadcastNestedLoopJoin.  We make
    it scale by *banding* (SURVEY.md §4): both sides get a 7-day bucket key;
    a date-range predicate of width w with band size w can only match in the
    order's bucket or the next one, so each order probes ≤2 buckets.  That
    turns O(N·M) into an equi-join on the band key — shuffle-partitionable at
    100 TB — with the exact range predicate re-applied after.
    """
    band = 7 * 86400  # seconds per band = range width
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-03-08 00:00:00").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    # order contributes rows for its bucket and the next (range may span edge)
    o_banded = o.withColumn(
        "band",
        F.explode(
            F.array(
                (F.unix_timestamp("o_orderdate") / band).cast("long"),
                (F.unix_timestamp("o_orderdate") / band).cast("long") + 1,
            )
        ),
    )
    l_banded = l.withColumn("band", (F.unix_timestamp("l_shipdate") / band).cast("long"))
    return (
        o_banded.join(l_banded, "band")
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (
                F.col("l_shipdate")
                < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")
            )
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_shipped_window"))
    )


# ---------------------------------------------------------------------------
# B23-B30 — aggregations.
# ---------------------------------------------------------------------------


@register(
    "agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6)           AS avg_disc,
           min(l_shipdate)                AS first_ship,
           max(l_shipdate)                AS last_ship
    FROM lineitem
    """,
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregate — partials from every partition, one row out."""
    l = load(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        # DECIMAL sum then one double division: avg(double) is
        # association-sensitive in the last ulp, and round(...,6) can land
        # exactly on the boundary (saw 0.049918 vs 0.049919 flip with the
        # ingest-compacted partition order)
        F.round(
            F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_disc"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group COUNT DISTINCT (expand+two-phase under the hood)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, sum(l_quantity) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: per-(flag,status), per-flag subtotals, grand total."""
    l = load(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping-set combinations."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_having",
    oracle="""
    SELECT l_suppkey, count(*) AS n, round(sum(l_extendedprice), 2) AS vol
    FROM lineitem
    GROUP BY l_suppkey
    HAVING count(*) > 500
    """,
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("vol"),
        )
        .filter(F.col("n") > 500)
    )


@register(
    "agg_collect_set",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
               AS priorities,
           count(*) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("agg",),
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set array aggregate — sorted then joined to one scalar string
    per group: collect order is partition-dependent (SURVEY.md §7 pitfall e),
    and the driver's canonicalizer cannot hash list-valued cells (r01 err:
    pandas `unhashable type: 'list'`), so both engines emit the set as a
    deterministic comma-joined string."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4)          AS sd_price,
           round(var_samp(l_quantity), 4)                  AS var_qty,
           round(quantile_cont(l_extendedprice, 0.5), 4)   AS median_price,
           round(quantile_cont(l_extendedprice, 0.95), 4)  AS p95_price,
           round(corr(l_quantity, l_extendedprice), 6)     AS qty_price_corr
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev, variance, exact percentiles, corr.

    Percentiles use the sort-based ``group_percentile_cont`` (see
    functions/stats.py) rather than Spark's builtin exact ``percentile``,
    which buffers every group value in one aggregation buffer — 5× slower
    at sf0.1 and an OOM risk at 100 TB.

    Decomposition of the sf0.1 wall (r13 re-measurement after the
    percentile restructure — see functions/stats.py History note and
    OPTIMIZATION_r13.md):

    - ~0.1 s: Catalyst re-plan per execution (``Dataset.ofRows`` over
      the cached plan re-runs physical planning — the honest
      prepared-statement protocol; skipping it would reuse shuffle
      outputs and fake the number: same-DataFrame re-collect measures
      0.05 s).
    - the rest: exactly TWO plain lineitem aggregation passes (the
      stddev/var/corr extras pass and the per-(flag, band) counts pass,
      whose exchange every consumer reuses) plus the hit-band rank pass
      over the ~2 straddling bands per flag.  The r4-r12 grouping-sets
      fusion that this replaced actually executed THREE specialized
      Expand passes — Catalyst pushed each consumer's grouping-id filter
      below the fused exchange, so the "shared" pass never shared
      (plans/r13/agg_stats_before.txt); the plain shape measured −23%
      min / −17% median on the same-session interleaved A/B and removes
      a full input pass at any scale.

    DuckDB's 0.06 s single-process fused scan has no replan, no
    scheduler, and no second pass — the remaining gap is local-mode
    floor plus the deliberate scale-shaped plan, not an unpushed filter
    or a skew.
    """
    from lambda_arc_events_filter_spark.functions.stats import group_percentile_cont

    l = load(spark, sf_dir, "lineitem")
    out = group_percentile_cont(
        l,
        ["l_returnflag"],
        "l_extendedprice",
        {"median_price": 0.5, "p95_price": 0.95},
        extra_aggs=[
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
        ],
    )
    return out.select(
        "l_returnflag",
        "sd_price",
        "var_qty",
        F.round("median_price", 4).alias("median_price"),
        F.round("p95_price", 4).alias("p95_price"),
        "qty_price_corr",
    )


@register(
    "agg_approx_count_distinct",
    oracle=None,  # HLL sketch — approximate by design, no exact SQL oracle
    tags=("agg", "approx"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event_type — the 100 TB
    cardinality-estimation path (constant memory vs exact distinct's shuffle).
    Rows-only driver check; tests/test_approx.py bounds its error vs exact."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


# ---------------------------------------------------------------------------
# B35-B37 — sort / limit / top-k.
# ---------------------------------------------------------------------------


@register(
    "sort_multi_key",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_totalprice > 300000
    ORDER BY o_orderstatus ASC, o_totalprice DESC NULLS LAST, o_orderkey
    """,
    tags=("sort",),
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort (asc + desc-nulls-last + tiebreaker).

    Range-partitioned sample sort in Spark — scales out; the filter keeps
    the sorted set small, which is the right shape at 100 TB (sort AFTER
    reduction, never the raw fact table).
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey"),
        )
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "topk"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY … LIMIT k — Spark plans TakeOrderedAndProject: each partition
    keeps a k-heap, driver merges k·p rows; no global sort ever materializes.
    Tiebreaker on o_orderkey makes the top-k set deterministic."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# B38-B41 — set operations & keyed dedup.
# ---------------------------------------------------------------------------


@register(
    "set_union_all",
    oracle="""
    SELECT k, src FROM (
      SELECT o_custkey AS k, 'orders' AS src FROM orders WHERE o_totalprice > 250000
      UNION ALL
      SELECT c_custkey AS k, 'customer' AS src FROM customer WHERE c_acctbal > 9000
    )
    """,
    tags=("setop",),
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) via unionByName."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    a = o.filter(F.col("o_totalprice") > 250000).select(
        F.col("o_custkey").alias("k"), F.lit("orders").alias("src")
    )
    b = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("k"), F.lit("customer").alias("src")
    )
    return a.unionByName(b)


@register(
    "set_union_distinct",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000
    UNION
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
    """,
    tags=("setop",),
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set semantics) = unionByName + distinct."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    a = o.filter(F.col("o_totalprice") > 250000).select(F.col("o_custkey").alias("k"))
    b = c.filter(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("k"))
    return a.unionByName(b).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers with both a finished and an open order."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey AS k FROM orders
    """,
    tags=("setop",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customer keys that never appear in orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.select(F.col("c_custkey").alias("k"))
        .exceptAll(o.select(F.col("o_custkey").alias("k")))
        .distinct()
    )


@register(
    "dedup_keep_first_per_key",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT e.*, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
      FROM events e
    ) WHERE rn = 1
    """,
    tags=("setop", "dedup"),
)
def dedup_keep_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup with a DETERMINISTIC keep rule (earliest event per user).

    ``dropDuplicates`` keeps an arbitrary row per key (partition-order
    dependent) — fine for idempotent pipelines, wrong for reproducible ones.
    The deterministic form is a row_number window over an explicit order,
    which is also exactly how it stays correct under AQE re-partitioning.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(b.uid, s.uid)      AS uid,
           coalesce(b.n_buy, 0)        AS n_buy,
           coalesce(s.n_err, 0)        AS n_err,
           b.uid IS NOT NULL AND s.uid IS NOT NULL AS both_sides
    FROM (SELECT user_id AS uid, CAST(count(*) AS BIGINT) AS n_buy
          FROM events WHERE event_type = 'purchase' AND value > 95
          GROUP BY 1) b
    FULL JOIN (SELECT user_id AS uid, CAST(count(*) AS BIGINT) AS n_err
               FROM events WHERE event_type = 'error' AND value > 95
               GROUP BY 1) s
      ON b.uid = s.uid
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15's remaining shape — FULL outer join: users with big purchases
    against users with big errors, keeping rows present on either side
    (the value>95 cut makes both one-sided sets non-empty at sf0.01: 12
    left-only, 22 right-only, 112 both).  Full outer forces a shuffle
    join (no broadcast strategy exists for it), so both aggregates
    co-partition on the join key — one exchange each, reused by the
    join."""
    e = load(spark, sf_dir, "events")
    b = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 95))
        .groupBy(F.col("user_id").alias("uid"))
        .agg(F.count(F.lit(1)).alias("n_buy"))
    )
    s = (
        e.filter((F.col("event_type") == "error") & (F.col("value") > 95))
        .groupBy(F.col("user_id").alias("uid"))
        .agg(F.count(F.lit(1)).alias("n_err"))
    )
    return b.join(s, "uid", "full_outer").select(
        F.col("uid"),
        F.coalesce("n_buy", F.lit(0)).alias("n_buy"),
        F.coalesce("n_err", F.lit(0)).alias("n_err"),
        (b.uid.isNotNull() & s.uid.isNotNull()).alias("both_sides"),
    )


@register(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: each key appears min(count_left,
    count_right) times.  Spark plans a left-semi-style hash join with
    count tracking; distinct-free, so heavy-hitter keys survive with
    multiplicity."""
    o = load(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return f.intersectAll(op)


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference: each key survives max(count_left -
    count_right, 0) times."""
    o = load(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return f.exceptAll(op)


@register(
    "agg_approx_percentile",
    oracle=None,  # t-digest/GK sketch — approximate by design, no SQL oracle
    tags=("agg", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile per return flag — B30's sketch path: constant
    memory per group at any scale, where exact percentiles pay a
    distributed sort (see agg_stats / functions/stats.py).  Accuracy
    parameter 10000 bounds rank error at n/10000.  Rows-only driver
    check; tests/test_approx.py bounds its error against the exact
    sort-based percentile."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
        F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias(
            "approx_p95"
        ),
    )


@register(
    "unpivot_revenue_components",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             round(sum(l_extendedprice), 2)              AS gross,
             round(sum(l_extendedprice * l_discount), 2) AS discount,
             round(sum(l_extendedprice * l_tax), 2)      AS tax
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, component, amount
    FROM m UNPIVOT (amount FOR component IN (gross, discount, tax))
    """,
    tags=("agg", "reshape"),
)
def unpivot_revenue_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long, the inverse of pivot_event_type_matrix):
    per-flag revenue components melt into (flag, component, amount) rows.
    Spark's DataFrame.unpivot plans an Expand node — a narrow map that
    emits one row per measure column, no shuffle beyond the feeding
    aggregate."""
    l = load(spark, sf_dir, "lineitem")
    m = l.groupBy("l_returnflag").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("gross"),
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "discount"
        ),
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_tax")), 2).alias("tax"),
    )
    return m.unpivot(
        ids=["l_returnflag"],
        values=["gross", "discount", "tax"],
        variableColumnName="component",
        valueColumnName="amount",
    )


@register(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
             AS n_bulk,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 FILTER (WHERE l_discount = 0) / 1e2, 2) AS rev_undiscounted,
           round(avg(l_tax) FILTER (WHERE l_quantity > 25), 6)
             AS avg_tax_bulk
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "functions"),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 FILTER-clause aggregation: per-aggregate predicates inside
    ONE grouping pass — several differently-filtered metrics without
    self-joining or re-scanning (the idiom behind every multi-metric
    scorecard).  Spark expresses it as CASE-masked aggregates, which is
    exactly what a FILTER clause compiles to; the money sum rides the
    scaled-integer discipline.  avg FILTER counts only matching rows in
    its denominator — the semantic difference from avg(CASE...0) the
    masked form must get right (mask with NULL, not 0).
    """
    l = load(spark, sf_dir, "lineitem")
    bulk = F.col("l_quantity") > 25
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(bulk, 1)).alias("n_bulk"),
        F.round(
            F.sum(
                F.when(
                    F.col("l_discount") == 0,
                    round_half_up(F.col("l_extendedprice") * 100).cast("long"),
                )
            )
            / 1e2,
            2,
        ).alias("rev_undiscounted"),
        F.round(F.avg(F.when(bulk, F.col("l_tax"))), 6).alias("avg_tax_bulk"),
    )


@register(
    "window_exclude_current_row",
    oracle="""
    SELECT event_id, user_id, value,
           round((sum(value) OVER w - value)
                 / nullif(count(*) OVER w - 1, 0), 6) AS peer_avg,
           round(value - (sum(value) OVER w - value)
                 / nullif(count(*) OVER w - 1, 0), 6) AS vs_peers
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
    """,
    tags=("window",),
)
def window_exclude_current_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregation EXCLUDING the current row (SQL:2011 EXCLUDE
    CURRENT ROW, which neither engine implements natively): each event's
    value against the average of its ±5 temporal neighbors — the
    self-excluding peer baseline every anomaly score wants (including
    yourself in your own baseline dampens exactly the outliers you're
    looking for).

    The emulation is algebraic, not syntactic: (frame_sum − value) /
    (frame_count − 1) over the standard inclusive frame — one window
    pass, same cost as the vanilla moving average, NULL at singleton
    frames via nullif.  Identical formula in both engines, so the
    division is deterministic.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-5, 5)
    )
    peers_sum = F.sum("value").over(w) - F.col("value")
    peers_n = F.count(F.lit(1)).over(w) - 1
    peer_avg = peers_sum / F.nullif(peers_n, F.lit(0))
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.round(peer_avg, 6).alias("peer_avg"),
        F.round(F.col("value") - peer_avg, 6).alias("vs_peers"),
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------


@register(
    "join_null_safe_equality",
    oracle="""
    WITH l AS (
      SELECT event_id,
             CASE WHEN event_id % 10 = 0 THEN NULL
                  ELSE user_id % 50 END AS k
      FROM events
    ),
    r AS (
      SELECT unnest(range(0, 50)) AS k, 'known' AS bucket
      UNION ALL SELECT NULL, 'unattributed'
    )
    SELECT r.bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT l.k) AS BIGINT) AS n_keys
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY r.bucket ORDER BY r.bucket
    """,
    tags=("join",),
)
def join_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the dimension-join
    semantics for data with a modeled "unattributed" bucket (a plain
    equi-join silently drops every NULL-keyed fact row, the classic
    revenue-undercount bug this surface exists to prevent).

    Spark plans ``eqNullSafe`` as an ordinary hash join (the null-safe
    comparison is still an equi-key — nulls hash to one bucket), so the
    scale shape is identical to the plain join; the dim side (50 keys +
    the NULL row) broadcasts.
    """
    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    left = e.select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(None))
        .otherwise(F.col("user_id") % 50)
        .alias("k"),
    )
    right = (
        spark.range(0, 50)
        .select(F.col("id").alias("k"), F.lit("known").alias("bucket"))
        .unionAll(
            spark.range(1).select(
                F.lit(None).cast("long").alias("k"),
                F.lit("unattributed").alias("bucket"),
            )
        )
    )
    return (
        left.join(F.broadcast(right), left["k"].eqNullSafe(right["k"]))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(left["k"]).alias("n_keys"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# unionByName with schema evolution (allowMissingColumns)
# ---------------------------------------------------------------------------


@register(
    "union_by_name_evolution",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    v2 AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS priority
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    ),
    u AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
    SELECT coalesce(priority, '<pre-schema>') AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM u GROUP BY 1 ORDER BY 1
    """,
    tags=("schema", "setop"),
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: the v1 extract predates the ``priority``
    column, v2 carries it — ``unionByName(allowMissingColumns=True)``
    aligns by NAME and null-fills the missing column (positional UNION
    would mis-bind or reject), the API twin of the parquet
    schema-evolution scan (D43) for in-flight relations.

    Null-filled rows surface as an explicit ``<pre-schema>`` bucket —
    absence is accounted, not silently mixed.  Pure projection + one
    hash aggregate.
    """
    o = load(spark, sf_dir, "orders")
    cents = round_half_up(F.col("o_totalprice") * 100).cast("long")
    v1 = o.filter(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", cents.alias("cents")
    )
    v2 = o.filter(F.col("o_orderdate") >= "1998-01-01").select(
        "o_orderkey",
        cents.alias("cents"),
        F.col("o_orderpriority").alias("priority"),
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (
        u.groupBy(
            F.coalesce("priority", F.lit("<pre-schema>")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("priority")
    )
