"""Source/sink and SQL-front-door queries — SURVEY.md §2 B3-B4, §3 E2,
and the B19 banded-range-join library operator."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lambda_arc_events_filter_spark.cache import session_artifact
from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import round_int_ratio
from lambda_arc_events_filter_spark.operators.range_join import banded_range_join
from lambda_arc_events_filter_spark.registry import register
from lambda_arc_events_filter_spark.sources import readers


@register(
    "csv_roundtrip_scan",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("source",),
)
def csv_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3+B4: write filtered orders to CSV, re-read with an explicit
    schema, aggregate — proving the CSV codec path preserves types
    (timestamps round-trip via ISO strings)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    path = readers.scratch_dir("csv_rt")
    readers.write_csv(o, path)
    back = readers.read_csv(
        spark,
        path,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "parquet_sink_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    WHERE value > 100
    GROUP BY event_type
    """,
    tags=("source", "sink"),
)
def parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: filtered events → parquet sink → re-scan → aggregate.  The
    re-read goes through the same explicit-schema scan as any source."""
    e = load(spark, sf_dir, "events").filter(F.col("value") > 100)
    path = readers.scratch_dir("pq_rt")
    readers.write_parquet(e, path)
    back = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "json_roundtrip_scan",
    oracle="""
    SELECT o_orderpriority,
           count(*)                          AS n,
           round(sum(o_totalprice), 2)       AS total,
           min(o_orderdate)                  AS first_order
    FROM orders
    WHERE o_totalprice > 150000
    GROUP BY o_orderpriority
    """,
    tags=("source", "sink"),
)
def json_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 as a FILE scan (fn_json_suite covers the in-column parse path):
    filtered orders → JSON-lines sink → explicit-schema re-read →
    aggregate.  Proves the JSON codec round-trips types — longs, doubles,
    and timestamps (ISO strings on disk, parsed back to TimestampType by
    the schema, min() aggregated to the same instant the oracle sees).
    JSON-lines stays splittable, so at 100 TB the re-scan parallelizes
    per-block like any text source."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    path = readers.scratch_dir("json_rt")
    readers.write_json(o, path)
    back = readers.read_json(
        spark,
        path,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.min("o_orderdate").alias("first_order"),
    )


@register(
    "orc_roundtrip_scan",
    oracle="""
    SELECT event_type,
           count(*)               AS n,
           round(sum(value), 4)   AS total_value,
           max(ts)                AS last_ts
    FROM events
    WHERE user_id % 10 = 3
    GROUP BY event_type
    """,
    tags=("source", "sink"),
)
def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round-trip — the second native columnar container
    (B1/B4 family): filtered events → ORC sink → explicit-schema scan →
    aggregate.  Same vectorized-reader + predicate-pushdown machinery as
    parquet (Spark's OrcFileFormat), so the layout guidance in SCALE.md
    applies unchanged; the oracle reads the source table, so the check
    proves the sink+scan is lossless including µs timestamps."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 3)
    path = readers.scratch_dir("orc_rt")
    readers.write_orc(e, path)
    back = readers.read_orc(
        spark,
        path,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.max("ts").alias("last_ts"),
    )


# single source of truth: this exact text runs on BOTH engines (table names
# templated — Spark gets session-unique temp views, DuckDB its fixture views)
_SQL_FRONTDOOR = """
    SELECT c.c_mktsegment,
           count(DISTINCT c.c_custkey) AS n_customers,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM {customer} c
    JOIN {orders} o   ON o.o_custkey = c.c_custkey
    JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_mktsegment
"""


@register(
    "sql_frontdoor",
    oracle=_SQL_FRONTDOOR.format(
        customer="customer", orders="orders", lineitem="lineitem"
    ),
    tags=("sql",),
)
def sql_frontdoor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (SURVEY §3.2): the SQL entry point — identical Catalyst pipeline
    from the analyzer onward; the oracle and the Spark query are the SAME
    SQL text, only the table names are bound differently."""
    suffix = uuid.uuid4().hex[:6]
    names = {}
    for t in ("customer", "orders", "lineitem"):
        names[t] = f"{t}_{suffix}"
        load(spark, sf_dir, t).createOrReplaceTempView(names[t])
    out = spark.sql(_SQL_FRONTDOOR.format(**names))
    for v in names.values():  # eager analysis → safe to drop, no leak
        spark.catalog.dropTempView(v)
    return out


@register(
    "grouping_sets_sql",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 2) AS vol
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
    """,
    tags=("agg", "sql"),
)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27 explicit GROUPING SETS (rollup/cube cover the other shapes)
    through the SQL front door."""
    suffix = uuid.uuid4().hex[:6]
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(f"lineitem_{suffix}")
    out = spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_extendedprice), 2) AS vol
        FROM lineitem_{suffix}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    )
    spark.catalog.dropTempView(f"lineitem_{suffix}")
    return out


@register(
    "range_join_library",
    oracle="""
    SELECT e1.event_id AS trigger_id, count(*) AS n_following
    FROM events e1 JOIN events e2
      ON e2.ts >= e1.ts AND e2.ts < e1.ts + INTERVAL 5 MINUTE
     AND e2.event_id <> e1.event_id
    WHERE e1.event_type = 'error'
    GROUP BY e1.event_id
    """,
    tags=("join", "range"),
)
def range_join_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 via the reusable ``banded_range_join`` operator: for each error
    event, count ALL events in the following 5 minutes (no equi key at
    all) — the banding turns it into a hash join on the time bucket."""
    e = load(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("trigger_id"), F.col("ts").alias("t_ts")
    )
    others = e.select(F.col("event_id").alias("other_id"), F.col("ts"))
    joined = banded_range_join(
        errors,
        others,
        left_time="t_ts",
        right_time="ts",
        width_seconds=300,
        extra_condition=F.col("other_id") != F.col("trigger_id"),
    )
    return joined.groupBy("trigger_id").agg(
        F.count(F.lit(1)).alias("n_following")
    )


# One hive-partitioned copy of events per (session, sf_dir): the write is
# the LAYOUT job (at 100 TB a one-time table-maintenance pass), not part of
# the query — round 1 re-wrote the full sink inside every execution, so the
# bench measured write throughput instead of the pruned read it exists to
# demonstrate (178× the read-only DuckDB oracle).
def _partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = readers.scratch_dir("pq_part")
        load(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(path)
        return path

    return session_artifact(spark, sf_dir, "partitioned_events", build)


#: One-file parquet copy of the 4-row wanted-types dim, written once per
#: (session, sf_dir): a file-source dim keeps the selective filter visible
#: to the DPP rule (a VALUES LocalRelation folds it away) while its
#: broadcast build is a 1-task scan instead of createDataFrame's 32-slice
#: RDD job.
def _dpp_dim_path(spark: SparkSession, sf_dir: str) -> str:
    from lambda_arc_events_filter_spark.catalog import values_relation

    def build() -> str:
        path = readers.scratch_dir("pq_dim")
        values_relation(
            spark,
            [("view", 1), ("purchase", 1), ("click", 0), ("scroll", 0)],
            "event_type string, keep int",
        ).coalesce(1).write.mode("overwrite").parquet(path)
        return path

    return session_artifact(spark, sf_dir, "dpp_dim", build)


@register(
    "partitioned_sink_dpp",
    oracle="""
    SELECT e.event_type,
           count(*)               AS n,
           round(sum(e.value), 4) AS total_value
    FROM events e
    WHERE e.event_type IN ('view', 'purchase')
    GROUP BY e.event_type
    """,
    tags=("source", "sink", "scale"),
)
def partitioned_sink_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned re-read — the layout
    contract for fact tables at 100 TB (SURVEY.md §4 "partition pruning").

    The hive-partitioned write happens once per session (layout job, see
    ``_partitioned_events_path``); the query re-reads it joining a
    tiny in-memory dimension of wanted types: the scan must prune to the
    two matching directories (dynamic partition pruning via the broadcast
    join key being the partition column — asserted on the physical plan in
    tests/test_plans.py), never listing the other partitions' data.  At
    scale the partition column is the ingest date; the mechanics are
    identical.
    """
    path = _partitioned_events_path(spark, sf_dir)
    back = spark.read.schema(
        "event_id long, ts timestamp, user_id long, value double,"
        " props string, event_type string"
    ).parquet(path)
    # the dim carries a selective filter: dynamic partition pruning only
    # inserts its subquery when the build side is filtered (otherwise the
    # join key alone can't prune anything).  The dim is a one-file
    # parquet fixture (written once per session, like the fact layout):
    # r14 found the old createDataFrame dim parallelized 4 rows into 32
    # RDD slices, so EVERY execution ran a 32-task broadcast-build job —
    # measured 0.512 → 0.229 s median (12/12 interleaved pairs) after
    # the switch; a plain VALUES relation would be cheaper still but
    # constant-folds the filter into the LocalRelation, and an
    # unfiltered build side makes the optimizer skip DPP — the property
    # this query exists to demonstrate (and the real-world shape: a dim
    # TABLE with a pushed filter).
    wanted = (
        spark.read.schema("event_type string, keep int")
        .parquet(_dpp_dim_path(spark, sf_dir))
        .filter(F.col("keep") == 1)
    )
    return (
        back.join(F.broadcast(wanted), "event_type")
        .drop("keep")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# Write-once bucketed-table fixture, keyed per (session, sf_dir) like the
# partitioned-sink fixture above: bucketing is a LAYOUT decision made at
# ingest time (a one-time table-maintenance pass at 100 TB), not part of
# the query being measured.
_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    def build() -> tuple[str, str]:
        suffix = uuid.uuid4().hex[:6]
        o_name, l_name = f"orders_bkt_{suffix}", f"lineitem_bkt_{suffix}"
        # repartition(N, key) uses the same Murmur3 hash-mod as the bucket
        # spec, so each write task owns exactly one bucket: one file per
        # bucket, sorted — the layout Spark's bucketed scan wants.
        (
            load(spark, sf_dir, "orders")
            .repartition(_BUCKETS, F.col("o_orderkey"))
            .write.mode("overwrite")
            .bucketBy(_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", readers.scratch_dir("bkt_orders"))
            .saveAsTable(o_name)
        )
        (
            load(spark, sf_dir, "lineitem")
            .repartition(_BUCKETS, F.col("l_orderkey"))
            .write.mode("overwrite")
            .bucketBy(_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", readers.scratch_dir("bkt_lineitem"))
            .saveAsTable(l_name)
        )
        return o_name, l_name

    return session_artifact(spark, sf_dir, "bucketed_tables", build)


@register(
    "bucketed_join_colocated",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("source", "sink", "scale"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via bucketed table layout — the
    co-location contract for repeated big-big joins at 100 TB (SURVEY.md §4
    "partitioning & shuffle"): both tables are bucketed 8 ways on the join
    key at write time (once, ``_bucketed_tables``), so the sort-merge join
    reads bucket i against bucket i with ZERO Exchange on either side —
    the plan test asserts the only shuffle left is the final aggregate's.

    The ``merge`` hint pins SortMergeJoin so the demonstrated property
    doesn't silently degrade to a broadcast at fixture scale; on a real
    cluster neither side of a fact-fact join fits the broadcast threshold
    anyway.
    """
    o_name, l_name = _bucketed_tables(spark, sf_dir)
    o = spark.table(o_name).filter(F.col("o_orderstatus") == "F")
    l = spark.table(l_name)
    return (
        l.hint("merge")
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# Small-files fixture: events written as 64 tiny parquet files (once per
# session) — the shape a streaming sink or over-parallel writer leaves
# behind, which compaction exists to repair.
def _small_files_events(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = readers.scratch_dir("events_small")
        load(spark, sf_dir, "events").repartition(64).write.parquet(path)
        return path

    return session_artifact(spark, sf_dir, "small_files_events", build)


def compact_parquet_dir(
    spark: SparkSession, src: str, target_file_bytes: int = 128 * 1024 * 1024
) -> str:
    """Table-maintenance compaction: rewrite a small-files parquet dir into
    ~target-sized files.  File count = ceil(total_bytes / target): the
    standard bin-packing a Delta OPTIMIZE / Iceberg rewrite performs; at
    100 TB this runs per partition-directory so each rewrite is bounded.
    Uses the directory's real byte size, not row counts — row width varies
    and the target is an IO unit, not a cardinality."""
    import math
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(r, f))
        for r, _, fs in _os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    dst = readers.scratch_dir("events_compacted")
    spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).parquet(src).repartition(n_files).write.parquet(dst)
    return dst


@register(
    "maintenance_compact_small_files",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)       AS n_rows,
           CAST(sum(event_id) AS BIGINT)  AS id_sum,
           round(sum(value), 4)           AS value_sum
    FROM events
    """,
    tags=("source", "sink", "scale"),
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction as a verified operator: a 64-file events copy
    (the streaming-sink pathology) rewrites into byte-targeted files
    (``compact_parquet_dir``), and the query returns integrity aggregates
    of the COMPACTED copy — the oracle computes the same from the source
    table, so the gate proves compaction is lossless.  File-count
    correctness is pinned by tests/test_tier_a.py's compaction test."""
    src = _small_files_events(spark, sf_dir)
    dst = compact_parquet_dir(spark, src, target_file_bytes=4 * 1024 * 1024)
    back = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).parquet(dst)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


# Write-once sorted copy of events (clustered layout), same cache pattern
# as the partitioned/bucketed fixtures above.
def _sorted_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = readers.scratch_dir("events_sorted")
        # range-partition + in-partition sort on the cluster key: each
        # parquet file (and row group) covers a narrow user_id range, so
        # min/max footer stats make point/range predicates skip almost
        # every row group — the CLUSTER BY / Z-order (single-key) mechanic
        (
            load(spark, sf_dir, "events")
            .repartitionByRange(8, "user_id")
            .sortWithinPartitions("user_id")
            .write.parquet(path)
        )
        return path

    return session_artifact(spark, sf_dir, "sorted_events", build)


@register(
    "sorted_layout_point_scan",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events
    WHERE user_id BETWEEN 40 AND 44
    GROUP BY user_id
    """,
    tags=("source", "sink", "scale"),
)
def sorted_layout_point_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered-layout scan: events rewritten once range-sorted on
    user_id (``_sorted_events_path``), then a narrow user_id range query
    re-reads it.  With the sort, every parquet row group's min/max
    footer stats cover a narrow key range, so the pushed BETWEEN
    predicate skips all but ~1/8 of the data before decoding — the
    CLUSTER BY / single-key Z-order mechanic that complements partition
    pruning (DPP) and bucketing in the layout toolbox.  The plan test
    asserts the predicate reaches the scan as PushedFilters; the oracle
    proves the rewrite lost nothing."""
    path = _sorted_events_path(spark, sf_dir)
    back = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).parquet(path)
    return (
        back.filter(F.col("user_id").between(40, 44))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 DataSource API)
# ---------------------------------------------------------------------------


@register(
    "custom_source_events_scan",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events
    GROUP BY event_type
    """,
    tags=("source",),
)
def custom_source_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through the engine's custom Python DataSource
    (``sources/pyds.py``, Spark 4 DataSource API): the events table read
    via ``format("events_replay")`` — row-group-parallel, Arrow-batched —
    then an ordinary aggregate.  The oracle reads the table natively;
    equality proves the connector is transparent (same rows, same types,
    no Python-side value mangling).

    This is the connector seam for feeds with no JVM reader (the
    reference's Kinesis role): ``partitions()`` keeps Spark's split/task
    model, ``read()`` yields pyarrow RecordBatches so no per-row Python
    objects exist on the data path.  Same ns/µs fixture handling as
    every other events read path (catalog probes the footer).
    """
    from lambda_arc_events_filter_spark.catalog import (
        SCHEMAS,
        _events_ts_is_nanos,
        table_path,
    )
    from lambda_arc_events_filter_spark.sources.pyds import (
        register_events_replay,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    register_events_replay(spark)
    path = table_path(sf_dir, "events")
    nanos = _events_ts_is_nanos(path)
    if nanos:
        read_schema = StructType(
            [
                StructField("ts", LongType(), True) if f.name == "ts" else f
                for f in SCHEMAS["events"].fields
            ]
        )
    else:
        read_schema = SCHEMAS["events"]
    df = (
        spark.read.format("events_replay")
        .schema(read_schema)
        .option("path", path)
        .load()
    )
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Malformed-record quarantine accounting (dead-letter ingestion path)
# ---------------------------------------------------------------------------


@register(
    "json_quarantine_accounting",
    oracle="""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN event_id % 17 = 0
                  THEN substr(props, 1, length(props) - 1)
                  ELSE props END AS p
      FROM events
    ),
    parsed AS (
      SELECT event_type,
             CASE WHEN json_valid(p)
                  THEN CAST(json_extract(p, '$.k') AS INTEGER) END AS k
      FROM raw
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                    AS n_total,
           CAST(count(k) AS BIGINT)                    AS n_parsed,
           CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           ((2 * sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) * 1000000
             + count(*)) // (2 * count(*))) / 1000000.0
                                                       AS quarantine_rate,
           ((2 * sum(k) * 1000000 + count(k)) // nullif(2 * count(k), 0))
               / 1000000.0                             AS avg_k
    FROM parsed
    GROUP BY event_type
    """,
    tags=("source", "functions"),
)
def json_quarantine_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting for a JSON ingest feed (the A2 decode path
    under fault): a deterministic 1-in-17 slice of payloads is truncated
    mid-object (simulating the clipped Kinesis records the reference's
    filter Lambda would see), every record still flows through one
    ``from_json`` pass, and the malformed ones surface as NULL
    extractions — counted, rated, and excluded from the value aggregate
    per event type, never dropped silently or crashing the batch.

    This is Spark's PERMISSIVE-mode contract done columnar: parse errors
    become nulls inline (no Python, no exception path, no second scan),
    so the quarantine decision costs nothing beyond the parse every row
    pays anyway.  At 100 TB the same plan holds — one scan, map-side
    combinable counters; the dead-letter SINK variant is this query's
    filter inverted (``k IS NULL``) writing to a quarantine path.
    ``avg_k`` divides an integer sum by a count, so both engines divide
    identical operands.
    """
    e = load(spark, sf_dir, "events")
    p = F.when(
        F.col("event_id") % 17 == 0,
        F.expr("substr(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    k = F.from_json(p, "k INT").getField("k")
    quarantined = F.when(F.col("k").isNull(), 1).otherwise(0)
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("k").alias("n_parsed"),
            F.sum(quarantined).cast("long").alias("n_quarantined"),
            round_int_ratio(F.sum(quarantined), F.count(F.lit(1)), 6).alias(
                "quarantine_rate"
            ),
            round_int_ratio(F.sum("k"), F.count("k"), 6).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Plain-text line source round-trip
# ---------------------------------------------------------------------------


@register(
    "text_roundtrip_scan",
    oracle="""
    WITH lines AS (
      SELECT text AS value FROM documents WHERE lang = 'en'
    )
    SELECT CAST(count(*) AS BIGINT)                       AS n_lines,
           CAST(sum(length(value)) AS BIGINT)             AS total_chars,
           CAST(sum(len(string_split(value, ' '))) AS BIGINT)
             AS total_tokens,
           CAST(min(length(value)) AS BIGINT)             AS min_len,
           CAST(max(length(value)) AS BIGINT)             AS max_len
    FROM lines
    """,
    tags=("source", "sink"),
)
def text_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line source (``spark.read.text`` — the rawest corpus
    ingestion format: one line, one document): English documents written
    as a text file, re-read as lines, token/char accounting over the
    round-trip.  The write excludes embedded newlines by construction
    (fixture text is single-line), so line count == doc count — the
    invariant the aggregate checks.

    Text is the format web-scale corpus drops actually arrive in
    (WET/plain dumps); the scan parallelizes by line ranges exactly like
    CSV, and the explicit one-column schema keeps the pipeline typed
    from the first select on.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    path = readers.scratch_dir("txt_rt")
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)  # one `value: string` column per line
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(F.size(F.split("value", " "))).cast("long").alias(
            "total_tokens"
        ),
        F.min(F.length("value")).cast("long").alias("min_len"),
        F.max(F.length("value")).cast("long").alias("max_len"),
    )


# ---------------------------------------------------------------------------
# binaryFile source: raw-asset ingestion (the multimodal on-ramp)
# ---------------------------------------------------------------------------


@register(
    "binaryfile_ingest_scan",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           lower(substr(hex(encode(text)), 1, 16))    AS head_hex
    FROM documents
    WHERE doc_id < 20
    """,
    tags=("source", "multimodal"),
)
def binaryfile_ingest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-asset ingestion via Spark's ``binaryFile`` source — the
    on-ramp every multimodal pipeline starts at (image/audio files on
    object storage → (path, bytes) rows): twenty documents materialized
    as individual ``doc_<id>.bin`` files, read back as binary rows, the
    id recovered from the path and the payload fingerprinted by length
    and head bytes.

    The oracle recomputes both from the text the files encode —
    byte-space only (octet_length / hex), no charset assumption.  At
    scale the binaryFile scan parallelizes per file and prunes with
    ``pathGlobFilter``/``recursiveFileLookup``; the (path, content)
    schema feeds straight into the ``operators/multimodal`` mapInPandas
    decoders, making this the tested first stage of that family.
    """
    import os

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()
    )
    path = readers.scratch_dir("binfiles")
    os.makedirs(path, exist_ok=True)
    for r in d:
        with open(os.path.join(path, f"doc_{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    back = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.bin"
    ).load(path)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("content").cast("long").alias("n_bytes"),
        F.lower(F.substring(F.hex("content"), 1, 16)).alias("head_hex"),
    )


@register(
    "xml_roundtrip_scan",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)  AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem
    WHERE l_quantity >= 45
    GROUP BY l_returnflag
    """,
    tags=("source", "sink"),
)
def xml_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3-family XML codec path (Spark 4's built-in XML source): write
    filtered lineitems to XML, re-read with an explicit schema,
    aggregate in integer cents — proving the XML round-trip preserves
    longs/doubles exactly (values render as text and parse back; the
    cents discipline makes the comparison rounding-free).  The scan is
    per-file parallel like the CSV/JSON paths; schema is never
    inferred."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    path = readers.scratch_dir("xml_rt")
    readers.write_xml(
        li.select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"),
        path,
    )
    back = readers.read_xml(
        spark,
        path,
        "l_orderkey long, l_returnflag string, l_quantity double,"
        " l_extendedprice double",
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_cents"
        ),
    )


# ---------------------------------------------------------------------------
# K1: compressed-codec round-trips (gzip CSV, zstd/snappy/gzip parquet)
# ---------------------------------------------------------------------------


@register(
    "codec_roundtrip_matrix",
    oracle="""
    WITH agg_ AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus <> 'F'
    )
    SELECT codec, n, round(cents / 100.0, 2) AS total
    FROM agg_, (SELECT unnest(['csv.gz', 'parquet.gzip',
                               'parquet.snappy', 'parquet.zstd']) AS codec)
    ORDER BY codec
    """,
    tags=("source", "sink"),
)
def codec_roundtrip_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: compression-codec round-trip matrix — the same filtered orders
    relation written and re-read through gzip CSV and gzip/snappy/zstd
    parquet, each re-aggregated to the identical integer-cents total.
    Proves the codec paths (including splittable-vs-not gzip text and
    the three parquet codecs a lakehouse actually deploys) are lossless
    through this engine; the oracle pins one truth row per codec.

    Scale note: .csv.gz is NOT splittable — one file is one task no
    matter its size (documented here because the test fixture hides it);
    parquet compresses per row-group and stays fully parallel, which is
    why zstd-parquet is the layout the sinks default to at volume.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    outs = []
    # gzip CSV
    p_csv = readers.scratch_dir("codec_csvgz")
    o.write.mode("overwrite").option("compression", "gzip").option(
        "header", True
    ).csv(p_csv)
    back_csv = spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).option("header", True).csv(p_csv)
    outs.append(("csv.gz", back_csv))
    for codec in ("gzip", "snappy", "zstd"):
        p = readers.scratch_dir(f"codec_pq_{codec}")
        o.write.mode("overwrite").option("compression", codec).parquet(p)
        outs.append((f"parquet.{codec}", spark.read.parquet(p)))
    per = [
        df.agg(
            F.lit(name).alias("codec"),
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                )
                / 100.0,
                2,
            ).alias("total"),
        )
        for name, df in outs
    ]
    out = per[0]
    for df in per[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# T1: CACHE TABLE surface — explicit in-memory columnar materialization
# ---------------------------------------------------------------------------


@register(
    "sql_cache_table_scan",
    oracle="""
    WITH f AS (SELECT * FROM orders WHERE o_orderstatus = 'O')
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST((SELECT count(*) FROM f) AS BIGINT) AS n_cached_rows
    FROM f GROUP BY o_orderpriority
    """,
    tags=("source", "sql"),
)
def sql_cache_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the explicit caching surface — ``CACHE TABLE`` materializes a
    filtered relation into Spark's in-memory COLUMNAR store and both
    downstream consumers read ``InMemoryTableScan`` instead of
    re-scanning parquet (the interactive-session / dashboard pattern:
    pay the scan once, iterate on the cached slice).  The query returns
    per-priority aggregates PLUS the cached row count computed as a
    second consumer, so the cache genuinely serves two readers.

    Cache lifecycle is scoped to the query: UNCACHE at the end frees
    executor memory (a leaked cache entry would pin fixture-scale blocks
    for the session).  At cluster scale the same statement pins hot
    dimension slices; the storage level (MEMORY_AND_DISK) spills rather
    than OOMs.
    """
    o = load(spark, sf_dir, "orders")
    o.filter(F.col("o_orderstatus") == "O").createOrReplaceTempView(
        "_cached_open_orders"
    )
    spark.sql("CACHE TABLE _cached_open_orders")
    try:
        agg = spark.sql(
            """
            SELECT o_orderpriority,
                   count(*) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM _cached_open_orders GROUP BY o_orderpriority
            """
        )
        n_cached = spark.sql(
            "SELECT count(*) AS n_cached_rows FROM _cached_open_orders"
        )
        out = agg.crossJoin(F.broadcast(n_cached)).select(
            "o_orderpriority", "n", "cents", "n_cached_rows"
        )
        # materialize while the cache is alive: the driver collects the
        # returned DataFrame AFTER this function exits (and after the
        # finally-uncache), so pin the computed result via checkpoint
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS _cached_open_orders")


# ---------------------------------------------------------------------------
# Parameterized SQL (named-argument binding)
# ---------------------------------------------------------------------------


@register(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_totalprice >= 150000.0
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("sql", "frontdoor"),
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (``spark.sql(..., args={...})``): the
    prepared-statement front door — thresholds arrive as TYPED
    parameters, not string-spliced literals, so the same plan template
    serves any binding and injection is structurally impossible.  The
    oracle bakes the same values in as literals; equality proves the
    binding reaches the plan as the right types (DOUBLE threshold,
    TIMESTAMP cutoff).

    Catalyst sees the bound literals before optimization, so pushdown/
    pruning work exactly as with inline constants — parameterization
    costs nothing at plan quality.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_pq")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               count(*) AS n_orders,
               sum(cast(round(o_totalprice * 100) AS BIGINT))
                 AS revenue_cents
        FROM orders_pq
        WHERE o_totalprice >= :min_price AND o_orderdate >= :since
        GROUP BY 1 ORDER BY 1
        """,
        args={
            "min_price": 150000.0,
            "since": "1996-01-01 00:00:00",
        },
    ).select(
        "priority",
        "n_orders",
        "revenue_cents",
    )


# ---------------------------------------------------------------------------
# SQL scripting (BEGIN/DECLARE/WHILE control flow)
# ---------------------------------------------------------------------------


@register(
    "sql_scripting_iterative",
    oracle="""
    WITH RECURSIVE n AS (SELECT count(*) AS n FROM orders),
    doubling AS (
      SELECT 0 AS k, CAST(1 AS BIGINT) AS cap
      UNION ALL
      SELECT k + 1, cap * 2 FROM doubling, n WHERE cap < n.n
    )
    SELECT CAST(max(k) AS INT) AS k, CAST(max(cap) AS BIGINT) AS cap,
           CAST(max(n.n) AS BIGINT) AS n_orders
    FROM doubling, n
    """,
    tags=("sql", "frontdoor", "iterative"),
)
def sql_scripting_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 ``BEGIN … END`` procedural blocks): a
    DECLARE/WHILE loop doubles a capacity until it covers the order
    count — the smallest power-of-two shard budget — exercising
    variables, data-driven loop bounds, and a table read INSIDE the
    script.  The oracle runs the identical iteration as a recursive CTE
    (exact integer doubling — no float log2 whose boundary could flip
    at an exact power of two).

    Control flow runs on the DRIVER; each statement inside the loop is
    still a full Catalyst plan, so scripting composes orchestration
    without giving up distributed execution — the stored-procedure
    migration path for warehouse workloads.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_script")
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        out = spark.sql(
            """
            BEGIN
              DECLARE n BIGINT DEFAULT 0;
              DECLARE k INT DEFAULT 0;
              DECLARE cap BIGINT DEFAULT 1;
              SET n = (SELECT count(*) FROM orders_script);
              WHILE cap < n DO
                SET cap = cap * 2;
                SET k = k + 1;
              END WHILE;
              SELECT k, cap, n AS n_orders;
            END
            """
        )
        # materialize before the conf reverts (scripting executes lazily
        # per-statement but the returned frame is the final SELECT)
        rows = out.collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Custom Python sink round-trip (DataSource writer API)
# ---------------------------------------------------------------------------


@register(
    "custom_sink_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("sink", "source"),
)
def custom_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read through the engine's custom PYTHON SINK
    (``sources/pyds.py::JsonlAuditDataSource``, Spark-4 DataSource
    writer API): the per-type aggregate lands as one JSON-lines part
    per partition, the driver-side ``commit`` publishes an atomic
    ``_MANIFEST.json`` (per-part row counts — tasks that never
    committed stay invisible), and the query re-reads the parts THROUGH
    the manifest and re-aggregates.  Oracle equality proves the sink is
    lossless and the manifest accounting is exact.

    This completes the connector seam: D13 = custom batch reader,
    Y1 = custom streaming reader, this = custom writer — the three
    faces a JVM-less destination needs.
    """
    import json
    import os
    import tempfile
    import uuid as _uuid

    from lambda_arc_events_filter_spark.sources.pyds import (
        register_jsonl_audit,
    )

    register_jsonl_audit(spark)
    e = load(spark, sf_dir, "events").select("event_type", "value")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "value_cents"
        ),
    )
    path = os.path.join(
        tempfile.gettempdir(), f"jsonl_audit_{_uuid.uuid4().hex[:8]}"
    )
    agg.repartition(4).write.format("jsonl_audit").option(
        "path", path
    ).mode("append").save()
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    parts = [p["path"] for p in manifest["parts"]]
    back = spark.read.schema(
        "event_type string, n_events bigint, value_cents bigint"
    ).json(parts)
    if manifest["total_rows"] != back.count():
        raise AssertionError("manifest row count disagrees with re-read")
    return back.orderBy("event_type")


# ---------------------------------------------------------------------------
# pandas-API-on-Spark front door
# ---------------------------------------------------------------------------


@register(
    "pandas_api_frontdoor",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("sql", "frontdoor"),
)
def pandas_api_frontdoor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third front door: pandas API on Spark (``pyspark.pandas``) —
    the same aggregate written as idiomatic pandas (``groupby`` +
    ``agg``) plans through Catalyst like the DataFrame and SQL doors
    (E2), so a pandas-fluent user keeps their idiom and gets distributed
    execution.  Oracle equality proves all three doors reach the same
    answer.

    The one scale trap this query demonstrates avoiding: a default
    ps.DataFrame conversion attaches a DISTRIBUTED-SEQUENCE index (a
    global zipWithIndex — an extra pass over the data); converting with
    the existing frame and aggregating straight away keeps the plan
    index-free.  Money goes to integer cents BEFORE the pandas-side sum
    so the aggregate stays in the exact-integer discipline.
    """
    import pyspark.pandas as ps

    e = load(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    psdf = e.pandas_api()
    out = (
        psdf.groupby("event_type")
        .agg(
            n_events=("cents", "count"),
            value_cents=("cents", "sum"),
            n_users=("user_id", "nunique"),
        )
        .reset_index()
    )
    return (
        out.to_spark()
        .select(
            "event_type",
            F.col("n_events").cast("long"),
            F.col("value_cents").cast("long"),
            F.col("n_users").cast("long"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Recursive CTE BFS over the trade graph (BB13)
# ---------------------------------------------------------------------------

_RECURSIVE_BFS_SQL = """
    WITH RECURSIVE edges AS (
      SELECT sn.n_name AS src, cn.n_name AS dst, count(*) AS cnt
      FROM {lineitem} l
      JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
      JOIN {customer} c ON o.o_custkey = c.c_custkey
      JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
      JOIN {nation} sn  ON s.s_nationkey = sn.n_nationkey
      JOIN {nation} cn  ON c.c_nationkey = cn.n_nationkey
      WHERE sn.n_nationkey <> cn.n_nationkey
      GROUP BY sn.n_name, cn.n_name
    ),
    strong AS (
      SELECT src, dst FROM (
        SELECT src, dst, cnt,
               avg(cnt) OVER (PARTITION BY src) AS src_avg
        FROM edges
      ) e
      WHERE cnt >= src_avg
    ),
    seed AS (
      SELECT src AS nation
      FROM (SELECT src, sum(cnt) AS tot FROM edges GROUP BY src) t
      ORDER BY tot DESC, src LIMIT 1
    ),
    bfs AS (
      SELECT nation, 0 AS hops FROM seed
      UNION ALL
      SELECT st.dst AS nation, b.hops + 1 AS hops
      FROM bfs b JOIN strong st ON st.src = b.nation
      WHERE b.hops < 3
    )
    SELECT nation, CAST(min(hops) AS INT) AS hops,
           CAST(count(*) AS BIGINT) AS n_walks
    FROM bfs
    GROUP BY nation
"""


@register(
    "sql_recursive_bfs",
    oracle=_RECURSIVE_BFS_SQL.format(
        lineitem="lineitem",
        orders="orders",
        customer="customer",
        supplier="supplier",
        nation="nation",
    ),
    tags=("sql", "graph"),
)
def sql_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``) breadth-first search
    over the strong-trade graph: edges are supplier-nation → customer-
    nation pairs aggregated from the fact join, sparsified to each
    source's ABOVE-AVERAGE partners (a per-source relative bar, so every
    node keeps ≥1 out-edge at any scale factor and the recursion always
    has a frontier); the seed is data-derived (the nation with the
    largest total out-trade, name tiebreak — a fixed-name seed went
    edgeless at sf0.001); from the seed nation the recursion
    expands ≤3-hop frontiers and the final aggregate folds walks into
    min-hop distance + walk count per reached nation.  SQL text is
    IDENTICAL in both engines (only table binding differs), so the
    oracle cross-checks Spark's recursive-union executor — new surface
    in Spark 4 — against DuckDB's, not just this query's arithmetic.

    Scale shape: the FACT scan happens exactly once, in the edge
    aggregation (one shuffle on the nation pair, partial aggs apply);
    the recursion then iterates over the DIMENSION-sized edge relation
    (≤ |nations|² rows at any corpus scale), so each recursive step is
    broadcast-scale work and the unbounded part of the plan never
    re-touches the fact table.  Depth is capped (hops < 3) and the walk
    count is finite by construction; min-hop is order-insensitive, so
    the result is deterministic whatever order the executor expands
    frontiers in."""
    suffix = uuid.uuid4().hex[:6]
    names = {}
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        names[t] = f"{t}_{suffix}"
        load(spark, sf_dir, t).createOrReplaceTempView(names[t])
    out = spark.sql(_RECURSIVE_BFS_SQL.format(**names))
    for v in names.values():
        spark.catalog.dropTempView(v)
    return out
