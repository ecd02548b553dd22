"""Lakehouse/table-format mechanics — round-3 wave: schema evolution,
manifest-driven file pruning, Z-order (multi-key) clustering, and parquet
column bloom filters.

These are the four storage-layer moves a 100 TB table depends on beyond
plain partitioning (SURVEY.md §4 "physical-execution posture"): schema
drift across ingest batches must read as one table; file-level min/max
manifests prune the file LIST before any scan task launches (the
Iceberg/Delta planning step); Z-order gives row-group skipping on TWO
predicate dimensions where a single-key sort covers one; and parquet
bloom filters skip row groups on point predicates over UNSORTED high-
cardinality columns where min/max stats are useless.  Every layout write
happens once per (session, sf_dir) — a table-maintenance job, not part
of the measured query — mirroring ``sources_q._partitioned_events_path``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.cache import session_artifact
from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import round_half_up
from lambda_arc_events_filter_spark.registry import register
from lambda_arc_events_filter_spark.sources import readers

_EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


# ---------------------------------------------------------------------------
# Schema evolution across ingest batches (mergeSchema)
# ---------------------------------------------------------------------------


def _evolved_orders_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = readers.scratch_dir("orders_evolved")
        o = load(spark, sf_dir, "orders")
        # batch 1: the original five columns
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate",
        ).write.parquet(path + "/batch=1")
        # batch 2: schema widened by a derived sales-channel column
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
            F.when(F.col("o_orderpriority") <= "2-HIGH", "expedited")
            .otherwise("standard")
            .alias("o_channel"),
        ).drop("o_orderpriority").write.parquet(path + "/batch=2")
        return path

    return session_artifact(spark, sf_dir, "evolved_orders", build)


@register(
    "schema_evolution_scan",
    oracle="""
    WITH unioned AS (
      SELECT o_orderstatus, o_totalprice, NULL AS o_channel
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderstatus, o_totalprice,
             CASE WHEN o_orderpriority <= '2-HIGH'
                  THEN 'expedited' ELSE 'standard' END
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)          AS n,
           round(sum(o_totalprice), 2)       AS total,
           CAST(count(o_channel) AS BIGINT)  AS n_with_channel,
           CAST(count(DISTINCT o_channel) AS BIGINT) AS n_channels
    FROM unioned GROUP BY o_orderstatus
    """,
    tags=("source", "scale"),
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across ingest batches: batch 1 carries the original
    order columns, batch 2 adds a derived ``o_channel`` column; the table
    reads as ONE DataFrame via ``mergeSchema`` with the missing column
    NULL-padded for old files — the additive-column drift every long-lived
    ingest pipeline accumulates, read the way Delta/Iceberg readers
    resolve it (union of file schemas by name).

    The aggregate proves both halves land: total counts match the source
    table, ``n_with_channel`` counts only batch-2 rows, and the oracle
    reconstructs the same union from the fixture directly.  At 100 TB
    schema evolution is strictly metadata-side — no rewrite of old files,
    which is the point of reading it this way rather than migrating.
    """
    path = _evolved_orders_path(spark, sf_dir)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.count("o_channel").alias("n_with_channel"),
        F.countDistinct("o_channel").alias("n_channels"),
    )


# ---------------------------------------------------------------------------
# Manifest-driven file pruning (the Iceberg/Delta planning step)
# ---------------------------------------------------------------------------

_RANGED_FILES = 16


def _time_ranged_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = readers.scratch_dir("events_ranged")
        (
            load(spark, sf_dir, "events")
            .repartitionByRange(_RANGED_FILES, "ts")
            .sortWithinPartitions("ts")
            .write.parquet(path)
        )
        return path

    return session_artifact(spark, sf_dir, "time_ranged_events", build)


@register(
    "manifest_file_pruning",
    oracle="""
    WITH s AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    b AS (SELECT CAST(floor(min(sec) + (max(sec) - min(sec)) * 0.25)
                 AS BIGINT) thr FROM s)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events, b
    WHERE CAST(floor(epoch(ts)) AS BIGINT) <= b.thr
    GROUP BY event_type
    """,
    tags=("source", "scale"),
)
def manifest_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-manifest pruning: events live as 16 time-ranged files; a
    manifest of per-file (min_sec, max_sec) is built by one metadata-scale
    aggregate over ``input_file_name()``, and the time-range query reads
    ONLY the files whose range can overlap — the planning step an
    Iceberg/Delta manifest performs before a single scan task launches.

    The pruned file list is a driver-side collect of the MANIFEST (one row
    per file — metadata, never data; the same O(files) list Spark's own
    planner holds), then the exact predicate still applies to the rows
    read, so pruning is conservative-safe.  At 100 TB the manifest is
    itself a parquet table maintained at write time; the mechanics —
    min/max per file, overlap test, list-then-scan — are identical.
    Threshold = 25 % into the corpus time span in whole epoch seconds, so
    both engines cut on the same integer.
    """
    path = _time_ranged_events_path(spark, sf_dir)
    back = spark.read.schema(_EVENTS_DDL).parquet(path)
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    manifest = (
        back.select(F.input_file_name().alias("file"), sec.alias("sec"))
        .groupBy("file")
        .agg(F.min("sec").alias("min_sec"), F.max("sec").alias("max_sec"))
    )
    lo, hi = back.agg(F.min(sec), F.max(sec)).first()
    thr = int(lo + (hi - lo) * 0.25)
    keep = [
        r["file"]
        for r in manifest.filter(F.col("min_sec") <= thr).collect()
    ]
    pruned = spark.read.schema(_EVENTS_DDL).parquet(*keep)
    return (
        pruned.filter(F.floor(F.unix_timestamp("ts")).cast("long") <= thr)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering: two-dimensional row-group skipping
# ---------------------------------------------------------------------------


def morton_expr(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative ints: bit i of
    ``a`` lands at position 2i, bit i of ``b`` at 2i+1.  Pure codegen
    shift/mask arithmetic — the multi-dimensional cluster key Delta's
    OPTIMIZE ZORDER BY computes, as a reusable column expression."""
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = (
            acc
            + F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i + 1)
        )
    return acc


def _zorder_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = readers.scratch_dir("events_zorder")
        # the cluster dims are PERSISTED columns (hr, not hour(ts)): parquet
        # min/max stats only skip on stored columns, never on expressions —
        # materializing the derived dim at layout time is what makes the
        # second predicate pushable (a derived partition/cluster column is
        # standard lake-table practice)
        e = (
            load(spark, sf_dir, "events")
            .withColumn("hr", F.hour("ts").cast("int"))
            .withColumn("_z", morton_expr(F.col("user_id"), F.col("hr"), bits=16))
        )
        (
            e.repartitionByRange(8, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.option("parquet.block.size", 256 * 1024)
            .parquet(path)
        )
        return path

    return session_artifact(spark, sf_dir, "zorder_events", build)


@register(
    "zorder_layout_scan",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events
    WHERE user_id BETWEEN 40 AND 47 AND hour(ts) BETWEEN 6 AND 11
    GROUP BY user_id
    """,
    tags=("source", "scale"),
)
def zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout: events rewritten once sorted by the
    Morton interleave of (user_id, hour-of-day), then a query filtering
    on BOTH dimensions re-reads it.  A single-key sort
    (``sorted_layout_point_scan``) gives row-group skipping on one
    column and nothing on the other; the Z-curve keeps rows close in
    BOTH keys inside each row group, so min/max footer stats skip on
    either predicate — the OPTIMIZE ZORDER BY mechanic, built from
    ``repartitionByRange`` + in-partition sort on a codegen Morton
    expression (``morton_expr``), with small row groups so skipping has
    granularity.  Oracle reads the source table: the rewrite is lossless
    and the layout affects IO only.
    """
    path = _zorder_events_path(spark, sf_dir)
    back = spark.read.schema(_EVENTS_DDL + ", hr int").parquet(path)
    return (
        back.filter(
            F.col("user_id").between(40, 47) & F.col("hr").between(6, 11)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Parquet column bloom filters: point skipping on unsorted columns
# ---------------------------------------------------------------------------


def _bloom_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = readers.scratch_dir("events_bloom")
        (
            load(spark, sf_dir, "events")
            # deliberately clustered by something ELSE (time), so user_id
            # min/max stats span the whole domain in every row group and
            # ONLY the bloom filter can skip
            .repartitionByRange(4, "ts")
            .sortWithinPartitions("ts")
            .write.option("parquet.bloom.filter.enabled#user_id", "true")
            .option("parquet.bloom.filter.expected.ndv#user_id", "100000")
            .option("parquet.block.size", 256 * 1024)
            .parquet(path)
        )
        return path

    return session_artifact(spark, sf_dir, "bloom_events", build)


@register(
    "bloom_filter_point_scan",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events
    WHERE user_id IN (7, 1013, 4099)
    GROUP BY event_type
    """,
    tags=("source", "scale"),
)
def bloom_filter_point_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet column bloom filter: events written once clustered by TIME
    with a bloom filter on ``user_id`` (``parquet.bloom.filter.enabled``),
    then a point-membership query on user_id re-reads it.  Because the
    layout clusters a different column, user_id min/max stats are useless
    (every row group spans the whole id domain) — the bloom filter is the
    only structure that can prove "this row group cannot contain id 4099"
    and skip its decode.  This is the standard answer for needle-in-
    haystack lookups on high-cardinality UNSORTED columns at 100 TB,
    complementing sort (range), partition (equality on low cardinality),
    and Z-order (two dims).  The pushed IN predicate reaches the scan
    (plan-tested); the oracle proves the rewrite lossless.
    """
    path = _bloom_events_path(spark, sf_dir)
    back = spark.read.schema(_EVENTS_DDL).parquet(path)
    return (
        back.filter(F.col("user_id").isin(7, 1013, 4099))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation diff (CDC / replica-drift audit)
# ---------------------------------------------------------------------------


@register(
    "table_reconcile_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders
    ),
    replica AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
             CASE WHEN o_orderkey % 101 = 0
                  THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 101
                        // 100) / 100.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_orderpriority,
             o_totalprice
      FROM orders WHERE o_orderkey % 89 = 0
    ),
    j AS (
      SELECT coalesce(b.o_orderkey, r.o_orderkey) AS k,
             CASE
               WHEN r.o_orderkey IS NULL THEN 'missing_in_replica'
               WHEN b.o_orderkey IS NULL THEN 'extra_in_replica'
               WHEN b.o_totalprice <> r.o_totalprice
                 OR md5(concat_ws('|', b.o_orderstatus, b.o_orderpriority))
                 <> md5(concat_ws('|', r.o_orderstatus, r.o_orderpriority))
                 THEN 'value_drift'
               ELSE 'match'
             END AS diff_class,
             CASE WHEN b.o_orderkey IS NOT NULL
                   AND r.o_orderkey IS NOT NULL
                  THEN CAST(round(abs(r.o_totalprice - b.o_totalprice)
                                  * 100) AS BIGINT)
                  ELSE 0 END AS drift_cents
      FROM base b FULL OUTER JOIN replica r USING (o_orderkey)
    )
    SELECT diff_class,
           CAST(count(*) AS BIGINT)          AS n,
           round(sum(drift_cents) / 1e2, 2)  AS total_drift
    FROM j GROUP BY diff_class
    """,
    tags=("source", "scale", "audit"),
)
def table_reconcile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: a base table full-outer-joined against a
    drifted replica (rows deleted, rows added, values mutated — the
    deterministic drift is synthesized from the fixture so the oracle
    reconstructs it exactly), classifying every key as match /
    missing_in_replica / extra_in_replica / value_drift with drift
    magnitude totals — the CDC-audit / cross-system consistency check
    every replicated 100 TB table needs on a schedule.

    Mechanics: string columns compare through an md5 row-digest (the
    cross-engine-stable fingerprint ``fn_hash_suite`` establishes;
    hashing avoids wide column shipping for match rows at scale),
    numeric columns compare directly (float→string formatting is NOT
    cross-engine stable, so numerics never enter the digest).  One
    sort-merge full-outer join on the key — the unavoidable shuffle —
    then a k-row class aggregate.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    replica = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 101 == 0,
                # +1% drift synthesized in integer cents: round(x*1.01, 2)
                # creates true half-cent boundaries where the engines'
                # rounding mechanisms split (COVERAGE.md divergence class)
                F.expr(
                    "cast(round(o_totalprice * 100) as bigint) * 101"
                    " div 100"
                )
                / 100.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 89 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_orderstatus",
                "o_orderpriority",
                "o_totalprice",
            )
        )
    )
    digest = lambda side: F.md5(  # noqa: E731
        F.concat_ws(
            "|",
            F.col(f"{side}.o_orderstatus"),
            F.col(f"{side}.o_orderpriority"),
        )
    )
    b = base.alias("b")
    r = replica.alias("r")
    j = b.join(r, F.col("b.o_orderkey") == F.col("r.o_orderkey"), "full")
    diff_class = (
        F.when(F.col("r.o_orderkey").isNull(), "missing_in_replica")
        .when(F.col("b.o_orderkey").isNull(), "extra_in_replica")
        .when(
            (F.col("b.o_totalprice") != F.col("r.o_totalprice"))
            | (digest("b") != digest("r")),
            "value_drift",
        )
        .otherwise("match")
    )
    # drift accumulates in integer CENTS (both totals are 2-decimal, so
    # their difference is too): round(sum(double), 2) flipped a half-cent
    # boundary on the sf0.1 stress sweep — the structural fix COVERAGE.md
    # documents, same as cdc_apply_log
    drift = F.when(
        F.col("b.o_orderkey").isNotNull() & F.col("r.o_orderkey").isNotNull(),
        round_half_up(
            F.abs(F.col("r.o_totalprice") - F.col("b.o_totalprice")) * 100
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        j.select(diff_class.alias("diff_class"), drift.alias("drift_cents"))
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("drift_cents") / 1e2, 2).alias("total_drift"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (delta-merge vs recompute)
# ---------------------------------------------------------------------------


def _agg_snapshot(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Write-once aggregate snapshot over the first ~80 % of the events
    time span (integer-second cutoff), returning (path, cutoff_sec)."""

    def build() -> tuple[str, int]:
        e = load(spark, sf_dir, "events")
        sec = F.floor(F.unix_timestamp("ts")).cast("long")
        lo, hi = e.agg(F.min(sec), F.max(sec)).first()
        cutoff = int(lo + (hi - lo) * 0.8)
        path = readers.scratch_dir("agg_snapshot")
        (
            e.filter(sec <= cutoff)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sum_value"),
            )
            .write.parquet(path)
        )
        return path, cutoff

    return session_artifact(spark, sf_dir, "agg_snapshot", build)


@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("source", "scale", "maintenance"),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a persisted aggregate snapshot
    (first 80 % of the time span, written once) is brought current by
    merging ONLY the delta's partial aggregate — count and sum are
    algebraic, so snapshot ⊎ delta ≡ full recompute, and the oracle IS
    the full recompute over all events.

    This is the materialized-view maintenance contract every serving
    aggregate at 100 TB depends on: the per-refresh cost is O(delta),
    never O(corpus).  The merge is a unionByName + re-aggregate on the
    tiny keyed relation (|types| rows from the snapshot + |types| from
    the delta partial) — one broadcast-scale shuffle; the delta scan's
    time predicate pushes to the parquet reader.  Holds for any algebraic
    aggregate (sum/count/min/max; avg via sum+count; the HLL sketches in
    ``agg_hll_sketch_union`` extend the same merge to distinct counts).
    """
    path, cutoff = _agg_snapshot(spark, sf_dir)
    snapshot = spark.read.schema(
        "event_type string, n long, sum_value double"
    ).parquet(path)
    e = load(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    delta = (
        e.filter(sec > cutoff)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    return (
        snapshot.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Retention delete (partition-level data expiry)
# ---------------------------------------------------------------------------


@register(
    "retention_delete_partitions",
    oracle="""
    WITH s AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, * FROM events),
    b AS (SELECT CAST(floor(min(sec) + (max(sec) - min(sec)) * 0.5)
                 AS BIGINT) AS thr FROM s),
    d AS (SELECT CAST(floor(sec / 86400) AS BIGINT) AS day, s.*
          FROM s, b WHERE floor(sec / 86400) > floor(thr / 86400))
    SELECT CAST(count(*) AS BIGINT)      AS n_rows,
           CAST(count(DISTINCT day) AS BIGINT) AS n_days,
           round(sum(value), 4)          AS total_value
    FROM d
    """,
    tags=("source", "sink", "scale", "maintenance"),
)
def retention_delete_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention enforcement (GDPR / data-expiry): a day-partitioned copy
    of events has every partition directory at-or-before the retention
    cutoff DELETED at the filesystem level — no rewrite of surviving
    data, which is the entire point of partitioning by the expiry key —
    and the query audits what remains.  The oracle computes the same
    retention filter logically: equality proves partition-level deletion
    ≡ row-level filter when the partition key IS the expiry key.

    The copy is rebuilt per call in scratch space (the deletion is the
    operator under test); at 100 TB this is a metadata-plus-unlink
    operation per expired partition, O(expired days), executed by the
    table format's delete-partition path rather than any scan.
    """
    import shutil

    e = load(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    lo, hi = e.agg(F.min(sec), F.max(sec)).first()
    thr_day = int(lo + (hi - lo) * 0.5) // 86400
    path = readers.scratch_dir("events_retention")
    (
        e.withColumn("day", F.floor(sec / 86400).cast("long"))
        .write.partitionBy("day")
        .parquet(path)
    )
    import os

    for entry in os.listdir(path):
        if entry.startswith("day="):
            day = int(entry.split("=", 1)[1])
            if day <= thr_day:
                shutil.rmtree(os.path.join(path, entry))
    back = spark.read.schema(_EVENTS_DDL + ", day long").parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("day").cast("long").alias("n_days"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# SCD type-2 dimension build (change-interval history)
# ---------------------------------------------------------------------------


@register(
    "scd2_dimension_build",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    seg AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
                            ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM ordered
    ),
    spans AS (
      SELECT user_id, seg_id, min(event_type) AS event_type,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
      FROM seg GROUP BY 1, 2
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id)
             IS NULL AS is_current,
           n_events
    FROM spans
    """,
    tags=("window", "scale", "maintenance"),
)
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an event log: each
    user's event_type stream is segmented at change points into validity
    intervals [valid_from, valid_to) with an open-ended current row —
    the standard dimension-history reconstruction every lakehouse runs
    to serve "what was this entity's state AT time t" joins (the as-of
    join in ``operators/asof.py`` is the consumer of exactly this shape).

    Gaps-and-islands via two stacked windows on ONE partitioning
    (user_id): the change flag (lag), the running segment id (sum), then
    a per-segment aggregate and a lead() for the closing edge — Spark
    executes all of it after a single exchange on user_id.  At 100 TB
    the state never materializes per-row history beyond the sort; the
    output is one row per CHANGE, which is the compression that makes
    SCD2 cheaper than snapshotting.

    Determinism: ties on (ts) within a user are broken by event_id in
    the change-flag window; the running segment sum orders by
    (ts, event_type) so equal-ts rows of the same segment cannot split
    differently across engines.
    """
    e = load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w_ord).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    seg = e.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(chg).over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_type")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("seg_id"),
    )
    spans = seg.groupBy("user_id", "seg_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_seg = Window.partitionBy("user_id").orderBy("seg_id")
    valid_to = F.lead("valid_from").over(w_seg)
    return spans.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        F.col("n_events").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (as-of) join against the SCD2 dimension
# ---------------------------------------------------------------------------


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH st AS (
      SELECT user_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type IN ('signup', 'error')
    ),
    s1 AS (SELECT user_id, ts, event_type FROM st WHERE rn = 1),
    ordd AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    seg AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM ordd
    ),
    spans AS (
      SELECT user_id, min(event_type) AS state, min(ts) AS valid_from,
             lead(min(ts)) OVER (PARTITION BY user_id ORDER BY seg_id)
               AS valid_to
      FROM seg GROUP BY user_id, seg_id
    ),
    facts AS (SELECT user_id, ts, value FROM events
              WHERE event_type = 'purchase')
    SELECT coalesce(s.state, 'none') AS state,
           CAST(count(*) AS BIGINT)  AS n_purchases,
           round(sum(f.value), 2)    AS volume,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users
    FROM facts f
    LEFT JOIN spans s
      ON f.user_id = s.user_id AND s.valid_from <= f.ts
     AND (s.valid_to IS NULL OR f.ts < s.valid_to)
    GROUP BY 1
    """,
    tags=("join", "scale", "maintenance"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against an SCD2 dimension: purchase facts
    joined to the state interval (built from each user's signup/error
    history, ``scd2_dimension_build`` mechanics) that was valid AT the
    purchase timestamp — "what plan/health state was this user in when
    they bought" — then rolled up per prevailing state.

    The naive interval join (valid_from <= ts < valid_to) range-explodes;
    because SCD2 spans TILE time gaplessly per key, the interval
    predicate is equivalent to "latest span start ≤ ts", which is an
    AS-OF join — one union + one window pass per user
    (``operators/asof.py``), no range join, no explosion.  Same-instant
    dimension duplicates are collapsed first (max event_id wins, both
    engines), so the as-of carry is deterministic even if a fixture
    lands two state events on one microsecond.
    """
    from lambda_arc_events_filter_spark.operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    st = e.filter(F.col("event_type").isin("signup", "error"))
    w_ts = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    s1 = (
        st.withColumn("rn", F.row_number().over(w_ts))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_type")
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts")
    chg = F.when(
        ~F.lag("event_type").over(w_ord).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    seg = s1.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(chg)
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("seg_id"),
    )
    spans = seg.groupBy("user_id", "seg_id").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t"), "value"
    )
    dim = spans.select("user_id", F.col("valid_from").alias("t"), "state")
    joined = asof_join(
        facts, dim, key="user_id", time_col="t", value_cols=["state"]
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("_asof_state"), F.lit("none")).alias("state")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("volume"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Order-independent table fingerprint (drift/replication checksum)
# ---------------------------------------------------------------------------


@register(
    "table_fingerprint_checksum",
    oracle="""
    WITH rows_h AS (
      SELECT o_orderstatus,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split_regex(
                     o_orderkey || '|' || o_orderpriority || '|'
                       || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                     ''),
                   c -> ascii(c))),
                 (a, b) -> (a * 31 + b) % 2147483647) AS h
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)      AS n_rows,
           CAST(sum(h) AS BIGINT)        AS sum_hash,
           bit_xor(h)                    AS xor_hash,
           CAST(min(h) AS BIGINT)        AS min_hash,
           CAST(max(h) AS BIGINT)        AS max_hash
    FROM rows_h
    GROUP BY o_orderstatus
    """,
    tags=("maintenance", "agg"),
)
def table_fingerprint_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint, the replication/drift check
    behind ``table_reconcile_diff``: each row canonicalizes to a string,
    hashes to a 31-bit polynomial digest, and per-partition-key
    commutative aggregates (sum, xor, min/max, count) summarize the
    table so two copies compare in O(groups) — row order, file order,
    and partitioning all wash out.

    Every aggregate is map-side combinable, so at 100 TB the checksum
    costs one scan plus a groups-sized exchange; comparing engine
    snapshots (or engine vs oracle, as the driver does here) needs no
    sort and no full-table diff.  The digest is the repo's cross-engine
    rolling hash (``operators/text.py::fingerprint_expr`` arithmetic) —
    at production scale you'd swap in xxhash64 for speed, but its seed
    is engine-specific, which is exactly what a CROSS-engine checksum
    cannot use (the in-engine aggregation structure is unchanged).
    ``o_totalprice`` canonicalizes through DECIMAL(18,2): decimal→string
    renders identically in both engines at every magnitude, where raw
    double formatting diverges (Spark flips to scientific notation past
    1e7).
    """
    o = load(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    )
    h = F.expr(
        "aggregate(split(canon, ''), 0L,"
        " (a, c) -> pmod(a * 31 + ascii(c), 2147483647))"
    )
    return (
        o.select("o_orderstatus", canon.alias("canon"))
        .select("o_orderstatus", h.alias("h"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").alias("sum_hash"),
            F.expr("bit_xor(h)").alias("xor_hash"),
            F.min("h").alias("min_hash"),
            F.max("h").alias("max_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta algebra, both sides changing)
# ---------------------------------------------------------------------------


@register(
    "incremental_join_maintenance",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    tags=("maintenance", "join", "scale"),
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized JOIN-view maintenance under deltas on BOTH inputs:
    with orders split into base ∪ Δo and customers into base ∪ Δc, the
    view delta is the three-term product expansion

        ΔV = Δo⋈C_base ∪ O_base⋈Δc ∪ Δo⋈Δc

    and the refreshed view is V_base ∪ ΔV — the incremental-view
    algebra (Blakeley et al.) every warehouse refresh job relies on,
    here proven equal to the from-scratch join by the oracle.

    The cost asymmetry is the point at 100 TB: the base⋈base term is
    NEVER recomputed — every delta term joins a small relation against
    a base (broadcast when the delta is small), so refresh cost tracks
    |Δ|, not |V|.  The aggregate over the refreshed view is the
    driver-visible fingerprint of the maintained state.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    do = F.col("o_orderkey") % 11 == 0
    dc = F.col("c_custkey") % 7 == 0
    o_base, o_delta = o.filter(~do), o.filter(do)
    c_base, c_delta = c.filter(~dc), c.filter(dc)
    on = F.col("c_custkey") == F.col("o_custkey")
    proj = ["c_mktsegment", "o_totalprice"]
    v_base = o_base.join(c_base, on).select(*proj)
    dv = (
        o_delta.join(c_base, on)
        .select(*proj)
        .unionByName(o_base.join(F.broadcast(c_delta), on).select(*proj))
        .unionByName(o_delta.join(F.broadcast(c_delta), on).select(*proj))
    )
    return (
        v_base.unionByName(dv)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# CDC log application (insert / update / delete with tombstones)
# ---------------------------------------------------------------------------


@register(
    "cdc_apply_log",
    oracle="""
    WITH log AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 10 = 0           THEN 'D'
                  WHEN c_custkey % 10 IN (1, 2)     THEN 'U'
             END AS op,
             round(c_acctbal + 100, 2) AS new_bal
      FROM customer
      WHERE c_custkey % 10 IN (0, 1, 2)
    ),
    inserts AS (
      SELECT c_custkey + 1000000 AS c_custkey,
             c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) // 2 AS bal_cents
      FROM customer WHERE c_custkey % 10 = 3
    ),
    survivors AS (
      SELECT c.c_custkey, c.c_mktsegment,
             CAST(round(CASE WHEN l.op = 'U' THEN l.new_bal
                             ELSE round(c.c_acctbal, 2) END * 100)
               AS BIGINT)                                AS bal_cents
      FROM customer c LEFT JOIN log l ON l.k = c.c_custkey
      WHERE l.op IS DISTINCT FROM 'D'
    ),
    final AS (
      SELECT * FROM survivors UNION ALL SELECT * FROM inserts
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)              AS n_customers,
           round(sum(bal_cents) / 100.0, 2)      AS total_balance
    FROM final GROUP BY c_mktsegment
    """,
    tags=("maintenance", "join"),
)
def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture application: a synthesized I/U/D log (every
    10th customer deleted, two slices updated, one slice re-inserted
    under new keys) applied to the customer snapshot — the Debezium-
    style merge every lakehouse table runs on ingest, extending the
    upsert-only ``batch_merge_upsert`` with the DELETE/tombstone path.

    Deletes are an anti-semantics LEFT join filter (null-safe: only an
    explicit 'D' kills the row — a missing log row must NOT), updates
    resolve in the same join's projection, inserts union in after.  One
    shuffle on the key; at 100 TB the log side is the small broadcast
    and copy-on-write rewrites only matched files (the
    ``manifest_file_pruning`` machinery upstream of this merge).
    """
    c = load(spark, sf_dir, "customer")
    mod = F.col("c_custkey") % 10
    log = c.filter(mod.isin(0, 1, 2)).select(
        F.col("c_custkey").alias("k"),
        F.when(mod == 0, "D").otherwise("U").alias("op"),
        F.round(F.col("c_acctbal") + 100, 2).alias("new_bal"),
    )
    # balances carry as integer CENTS through the merge: a sum of ~300
    # two-decimal doubles drifts ~1e-12 across engines, which flipped the
    # final round at a half-cent boundary (observed at sf0.01); integer
    # accumulation is exact at any scale and any order
    # the halving happens IN integer cents (floor div): round(x/2, 2)
    # manufactures true .xx5 halves, where Spark's BigDecimal-string
    # HALF_UP and DuckDB's binary-value rounding disagree by a cent
    inserts = c.filter(mod == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_mktsegment",
        F.expr("cast(round(c_acctbal * 100) as long) div 2").alias(
            "bal_cents"
        ),
    )
    survivors = (
        c.join(F.broadcast(log), F.col("k") == F.col("c_custkey"), "left")
        .filter(~F.col("op").eqNullSafe("D"))
        .select(
            "c_custkey",
            "c_mktsegment",
            round_half_up(
                F.when(F.col("op") == "U", F.col("new_bal")).otherwise(
                    F.round(F.col("c_acctbal"), 2)
                )
                * 100
            )
            .cast("long")
            .alias("bal_cents"),
        )
    )
    return (
        survivors.unionByName(inserts)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("bal_cents") / 100.0, 2).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# O2: Merkle-style bucketed replica diff (anti-entropy repair)
# ---------------------------------------------------------------------------


@register(
    "table_merkle_bucket_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (  -- replica with a deterministic corruption: +1 cent on ~1/1000
      SELECT k, CASE WHEN k % 1000 = 7 THEN cents + 1 ELSE cents END AS cents
      FROM a
    ),
    ha AS (SELECT k, k % 256 AS bucket,
                  (k * 2654435761 + cents) % 1000000007 AS h FROM a),
    hb AS (SELECT k, k % 256 AS bucket,
                  (k * 2654435761 + cents) % 1000000007 AS h FROM b),
    da AS (SELECT bucket, CAST(sum(h) AS BIGINT) AS dig,
                  CAST(count(*) AS BIGINT) AS n FROM ha GROUP BY bucket),
    db AS (SELECT bucket, CAST(sum(h) AS BIGINT) AS dig,
                  CAST(count(*) AS BIGINT) AS n FROM hb GROUP BY bucket),
    changed AS (
      SELECT da.bucket FROM da JOIN db USING (bucket)
      WHERE da.dig <> db.dig OR da.n <> db.n
    ),
    drill AS (
      SELECT ha.k FROM ha JOIN hb ON ha.k = hb.k
      JOIN changed c ON ha.bucket = c.bucket
      WHERE ha.h <> hb.h
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM da)      AS n_buckets,
           (SELECT CAST(count(*) AS BIGINT) FROM changed) AS n_changed_buckets,
           (SELECT CAST(count(*) AS BIGINT) FROM drill)   AS n_changed_rows,
           (SELECT CAST(min(k) AS BIGINT) FROM drill)     AS first_changed_key,
           (SELECT CAST(max(k) AS BIGINT) FROM drill)     AS last_changed_key
    """,
    tags=("maintenance", "lakehouse"),
)
def table_merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: anti-entropy replica reconciliation the way replicated stores
    actually do it (Merkle exchange): hash every row into one of 256 key
    buckets, compare BUCKET DIGESTS first (a 256-row relation per
    replica, whatever the table size), and drill down to row-level
    comparison ONLY inside buckets whose digests disagree.  The replica
    here carries a deterministic 1-in-1000 corruption (+1 cent), so the
    query must localize exactly those rows while row-comparing ~1/256th
    of the table per corrupted bucket — the bandwidth story that makes
    Merkle repair viable at volume, vs `table_reconcile_diff`'s full
    row-by-row join.

    Digests are sums of portable integer row hashes (k·2654435761 +
    cents mod p) — order-independent, mergeable, engine-exact; both
    replicas derive from one scan lineage.
    """
    o = load(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        round_half_up(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    a = a.localCheckpoint(eager=False)  # one lineage feeds both replicas
    b = a.select(
        "k",
        F.when(F.col("k") % 1000 == 7, F.col("cents") + 1)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            "k",
            (F.col("k") % 256).alias("bucket"),
            (
                (F.col("k") * F.lit(2654435761) + F.col("cents"))
                % F.lit(1_000_000_007)
            ).alias("h"),
        )

    ha, hb = hashed(a), hashed(b)
    da = ha.groupBy("bucket").agg(
        F.sum("h").alias("dig"), F.count(F.lit(1)).alias("n")
    )
    db = hb.groupBy("bucket").agg(
        F.sum("h").alias("dig2"), F.count(F.lit(1)).alias("n2")
    )
    changed = (
        da.join(db, "bucket")
        .filter(
            (F.col("dig") != F.col("dig2")) | (F.col("n") != F.col("n2"))
        )
        .select("bucket")
    )
    drill = (
        ha.join(F.broadcast(changed), "bucket")
        .join(
            hb.select("k", F.col("h").alias("h2")),
            "k",
        )
        .filter(F.col("h") != F.col("h2"))
        .select("k")
    )
    drill = drill.localCheckpoint(eager=False)  # feeds 3 scalar aggs
    stats = [
        da.agg(F.count(F.lit(1)).alias("n_buckets")),
        changed.agg(F.count(F.lit(1)).alias("n_changed_buckets")),
        drill.agg(
            F.count(F.lit(1)).alias("n_changed_rows"),
            F.min("k").alias("first_changed_key"),
            F.max("k").alias("last_changed_key"),
        ),
    ]
    out = stats[0].crossJoin(F.broadcast(stats[1])).crossJoin(
        F.broadcast(stats[2])
    )
    return out
