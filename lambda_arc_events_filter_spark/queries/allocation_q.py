"""Allocation / calendarization operators: integer-exact proration.

Finance-style engines need two allocation primitives a naive SQL port
gets subtly wrong at scale:

* **largest-remainder (Hamilton) apportionment** — split a fixed integer
  budget across groups proportional to a measure so the parts sum to the
  budget EXACTLY (floor shares + the residual units to the largest
  fractional remainders).  Floating-point shares can't guarantee the
  invariant; the whole computation stays in DECIMAL(38,0)/HUGEINT.
* **calendar proration** — spread an interval-valued amount across the
  calendar months it overlaps, day-weighted, again summing exactly.
  The telescoping form ``floor(v·cum_days_through/span) −
  floor(v·cum_days_before/span)`` makes each month's share a pure
  map-side expression (no second per-interval pass to place the rounding
  residue) and the telescoping sum is exactly ``v``.

Both run as map-side expressions + one hash aggregate — no windows, no
self-joins on fact-scale relations — so they hold at 100 TB.  The only
rank in the apportionment is over the NATION-level aggregate (bounded by
the schema, ≤ a few hundred rows), computed as a broadcast self-join
count rather than a partition-less window to keep the registry-wide plan
lint meaningful.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.allocation import (
    largest_remainder,
)
from lambda_arc_events_filter_spark.functions.exact import round_half_up
from lambda_arc_events_filter_spark.registry import register

# Fixed budget, in cents ($10M), apportioned across nations.
_BUDGET_CENTS = 1_000_000_000


@register(
    "nation_budget_allocation",
    oracle=f"""
    WITH rev AS (
      SELECT n_name AS nation,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
      GROUP BY 1
    ),
    tot AS (SELECT sum(rev_cents) AS t FROM rev),
    fl AS (
      SELECT nation, rev_cents,
             CAST((CAST({_BUDGET_CENTS} AS HUGEINT) * rev_cents) // t
                  AS BIGINT) AS floor_share,
             CAST((CAST({_BUDGET_CENTS} AS HUGEINT) * rev_cents) % t
                  AS BIGINT) AS rem
      FROM rev, tot
    ),
    rk AS (
      SELECT nation, rev_cents, floor_share,
             row_number() OVER (ORDER BY rem DESC, nation) AS rk
      FROM fl
    ),
    short AS (SELECT {_BUDGET_CENTS} - sum(floor_share) AS s FROM fl)
    SELECT nation, rev_cents,
           floor_share + CASE WHEN rk <= s THEN 1 ELSE 0 END AS alloc_cents
    FROM rk, short
    ORDER BY nation
    """,
    tags=("allocation", "agg", "exact"),
)
def nation_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment of a fixed $10M budget across
    nations, proportional to order revenue: floor shares in exact integer
    arithmetic, then one extra cent to the nations with the largest
    remainders until the floors' shortfall is covered.  The output
    invariant — ``sum(alloc_cents) == budget`` exactly — is what
    distinguishes apportionment from a rounded percentage split (pinned
    by ``tests/test_allocation.py``).

    Scale shape: the fact-scale work is ONE map-side-combinable hash
    aggregate (orders ⋈ broadcast customer-nation rollup).  Everything
    after operates on the nation-level aggregate, bounded by the schema
    (≤ ~hundreds of rows): the remainder rank is a broadcast self-join
    count, not a partition-less window, so the plan lint stays clean and
    nothing single-partitions.  ``budget × rev_cents`` overflows BIGINT
    at real data volumes (~1e9 × ~1e12), so the share math runs in
    DECIMAL(38,0) — Spark's ``div`` (IntegralDivide) returns exact BIGINT
    floors, mirrored by DuckDB HUGEINT ``//``.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(
            F.broadcast(
                c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
                .select("c_custkey", "n_name")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(round_half_up(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    return largest_remainder(
        rev, "rev_cents", _BUDGET_CENTS, ["nation"], out_col="alloc_cents"
    ).orderBy("nation")


@register(
    "lineitem_month_proration",
    oracle="""
    WITH li AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             least(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d0,
             greatest(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d1
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
    ),
    f AS (
      SELECT cents, d0, d1, datediff('day', d0, d1) + 1 AS span
      FROM li
      WHERE datediff('day', d0, d1) < 366
    ),
    m AS (
      SELECT cents, d0, span,
             CAST(unnest(generate_series(CAST(date_trunc('month', d0) AS DATE),
                                         CAST(date_trunc('month', d1) AS DATE),
                                         INTERVAL 1 MONTH)) AS DATE) AS month
      FROM f
    ),
    a AS (
      SELECT month,
             cents * least(span,
                           datediff('day', d0,
                                    CAST(month + INTERVAL 1 MONTH AS DATE)))
               // span
             - cents * greatest(0, datediff('day', d0, month)) // span
               AS alloc
      FROM m
    )
    SELECT month, CAST(sum(alloc) AS BIGINT) AS alloc_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM a
    GROUP BY month
    ORDER BY month
    """,
    tags=("allocation", "calendar", "exact"),
)
def lineitem_month_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-weighted calendarization: each lineitem's revenue spreads
    across the calendar months between its order date and ship date
    (whichever direction — the synthetic fixture has ship dates on both
    sides of the order date), in exact integer cents, via the telescoping
    form ``floor(cents·days_through_m / span) − floor(cents·days_before_m
    / span)``.  Telescoping guarantees the per-line month shares sum to
    the line's cents EXACTLY with no residue-placement pass, and each
    share is within 1 cent of the real-valued proration.

    Scale shape: a pure map-side explode bounded by design — intervals
    longer than a year are excluded (data-quality outliers routed to a
    quarantine in a production pipeline), so the explode factor is ≤ 13
    rows per lineitem — followed by ONE map-side-combinable hash
    aggregate on ~84 month keys.  No window, no join beyond the
    orders⋈lineitem equi-join.  All arithmetic in BIGINT (cents×days ≈
    1e7×366 ≪ 2^63); floors via IntegralDivide on both engines.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            round_half_up(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            F.least(
                F.to_date("o_orderdate"), F.to_date("l_shipdate")
            ).alias("d0"),
            F.greatest(
                F.to_date("o_orderdate"), F.to_date("l_shipdate")
            ).alias("d1"),
        )
        .filter(F.datediff(F.col("d1"), F.col("d0")) < 366)
        .withColumn("span", F.datediff(F.col("d1"), F.col("d0")) + 1)
    )
    months = base.select(
        "cents",
        "d0",
        "span",
        F.explode(
            F.sequence(
                F.trunc("d0", "MM"),
                F.trunc("d1", "MM"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    through = F.least(
        F.col("span"),
        F.datediff(F.add_months(F.col("month"), 1), F.col("d0")),
    )
    before = F.greatest(F.lit(0), F.datediff(F.col("month"), F.col("d0")))
    alloc = (
        F.call_function("div", dec(F.col("cents") * through), dec(F.col("span")))
        - F.call_function("div", dec(F.col("cents") * before), dec(F.col("span")))
    )
    return (
        months.select("month", alloc.alias("alloc"))
        .groupBy("month")
        .agg(
            F.sum("alloc").alias("alloc_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("month")
    )
