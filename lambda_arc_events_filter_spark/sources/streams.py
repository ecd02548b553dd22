"""Streaming sources and sinks.

The engine's Tier A surface (the reference's entire capability: consume a
Kinesis feed of events, filter, forward — /root/reference/README.md:2) is
expressed as Structured Streaming over an abstract source:

- **prod**: the Kinesis connector (``format("aws-kinesis")``) — configured
  here but not installable in this container; raises a clear error.
- **tests/backfill**: a file stream replaying ``events.parquet`` —
  identical unbounded-DataFrame semantics, deterministic.

Every downstream operator takes a DataFrame and doesn't know which source
produced it — that batch/stream unification is the point of building on
Spark rather than a Lambda handler.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from lambda_arc_events_filter_spark.catalog import SCHEMAS


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded DataFrame replaying the fixture ``events`` table.

    Same ts-unit handling as the batch path (catalog.load): fixture
    generations vary between TIMESTAMP(NANOS) and TIMESTAMP(MICROS), so
    probe the footer; nanos reads as raw longs converted in-plan.
    ``pathGlobFilter`` scopes the directory scan to the events file so the
    other nine tables in sf_dir are not picked up.
    """
    from lambda_arc_events_filter_spark.catalog import (
        _events_ts_is_nanos,
        table_path,
    )

    nanos = _events_ts_is_nanos(table_path(sf_dir, "events"))
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        read_schema = StructType(
            [
                StructField("ts", LongType(), True) if f.name == "ts" else f
                for f in SCHEMAS["events"].fields
            ]
        )
    else:
        read_schema = SCHEMAS["events"]
    reader = (
        spark.readStream.schema(read_schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = reader.parquet(sf_dir)
    if nanos:
        out = out.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        ).select([f.name for f in SCHEMAS["events"].fields])
    return out


def run_to_memory(
    df: DataFrame,
    name_prefix: str = "q",
    mode: str = "append",
    state_partitions: int | None = 8,
    drain: bool = False,
    state_store: str = "memory",
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow trigger,
    memory sink) and return the materialized result as a batch DataFrame.

    availableNow = process-everything-then-stop: the backfill trigger
    (SURVEY.md B59).  The memory sink is the deterministic test sink; prod
    sinks are parquet/kinesis via ``write_stream_parquet`` below.
    Unique query name per call so repeated runs in one session don't
    collide.

    ``mode``: ``append`` for stateless/joined streams; ``complete`` for
    aggregations being verified against a batch oracle — in append mode the
    windows still open at end-of-replay are never emitted (the watermark
    cannot pass them), so the tail of the result would be missing.  Prod
    pipelines use append/update with the watermark doing eviction; the
    B58 late-data unit tests exercise that path explicitly.

    ``state_partitions`` sizes the stateful-operator partition count
    (fixed at the query's FIRST start from ``spark.sql.shuffle.partitions``
    and baked into the checkpoint): one state-store instance — a RocksDB
    per partition under our provider — is opened per partition per batch,
    a fixed cost that dwarfs fixture-scale data (measured 1.9s → 1.0s at
    sf0.1 going 32 → 4).  State partitions should be sized to state
    VOLUME, not cluster cores; at 100 TB raise it (or leave None to
    inherit the session's shuffle partitioning).  The session conf is
    restored after the run — it only pins this query's checkpoint.
    """
    qname = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_store = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # State-store provider is per-query (read at start, baked into the
    # checkpoint).  This sink replays a BOUNDED fixture (availableNow), so
    # state fits in memory with room to spare — the in-memory HDFS-backed
    # provider skips RocksDB's per-partition-per-batch instance open
    # (measured at sf0.1 tumbling: 1.45 s → 1.14 s).  RocksDB remains the
    # session default for prod-shaped unbounded sinks, where state outgrows
    # the heap.  Callers whose operator REQUIRES RocksDB
    # (transformWithStateInPandas rejects other providers) pass
    # ``state_store="rocksdb"`` — the round-8 review found the old
    # env-only switch silently clobbered a provider the caller had set on
    # the session; the parameter makes the requirement explicit.
    provider = (
        "RocksDBStateStoreProvider"
        if state_store == "rocksdb"
        else "HDFSBackedStateStoreProvider"
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." + provider,
    )
    try:
        writer = (
            df.writeStream.format("memory").queryName(qname).outputMode(mode)
        )
        if drain:
            # Default-trigger drain loop for sources whose "available"
            # offset advances one micro-batch at a time (the Python
            # SimpleDataSourceStreamReader wrapper prefetches exactly one
            # chunk, so availableNow would stop after the FIRST chunk):
            # processAllAvailable blocks until the source stops advancing,
            # then the query is stopped — same process-everything-then-
            # stop contract, driven from the client side.
            q = writer.start()
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # Restore UNCONDITIONALLY: when the session had no explicit
        # provider set, unset (falls back to the session default) rather
        # than leaving the HDFSBacked override leaked into session conf
        # for later non-run_to_memory streaming queries.
        if prev_store is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_store
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    # Resolve the memory-sink table, then DROP the temp view: the
    # returned DataFrame holds the resolved relation, while leaving the
    # view registered would pin every materialized result in the driver
    # catalog for the session lifetime (round-8 review).
    out = spark.table(qname)
    out._jdf.queryExecution().analyzed()  # resolve before the view drops
    spark.catalog.dropTempView(qname)
    return out


def write_stream_parquet(
    df: DataFrame, path: str, checkpoint: str | None = None
) -> None:
    """Prod-shaped sink: parquet files + checkpoint WAL (exactly-once).

    The checkpoint directory is the replacement for the Lambda/ESM implicit
    shard-iterator checkpointing of the reference deployment (SURVEY §3.1):
    restart resumes from the last committed batch.

    One writer per core: the stream is coalesced to the session's
    ``defaultParallelism`` before the sink, so a micro-batch writes at most
    one parquet file per core instead of one per input file.  Each writer
    is a fixed cost (a per-task Hadoop ``Configuration`` deserialization,
    forked ``chmod`` calls for the file, its ``.crc`` and the directory):
    35k ARC rows took 1.83 s to write as 100 files and 0.29 s as 4 files
    on a 4-core host.  Coalesce is narrow, so the read and decode still
    run one task per core.

    ``session.get_spark`` logs the checkpoint through Spark's
    FileSystem-based checkpoint manager, about 8 ms per log entry where
    the default FileContext manager took about 32 ms.  Both commit an
    entry by writing a temp file and renaming it into place, refusing an
    existing entry; the rename is atomic on local FS and HDFS.  On object
    stores without atomic rename (S3 and the like) neither manager is
    atomic: keep the checkpoint on HDFS or a store with atomic rename.
    """
    checkpoint = checkpoint or os.path.join(
        tempfile.gettempdir(), f"ckpt_{uuid.uuid4().hex[:8]}"
    )
    cores = df.sparkSession.sparkContext.defaultParallelism
    q = (
        df.coalesce(cores)
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def kinesis_stream(
    spark: SparkSession,
    stream_name: str,
    region: str = "us-east-1",
    endpoint: str | None = None,
    starting_position: str = "LATEST",
) -> DataFrame:
    """Prod source: AWS Kinesis Data Stream (the reference's input —
    'Filters ARC kinesis feed events', README.md:2).

    Uses the spark-sql-kinesis connector (``format("aws-kinesis")``), which
    is not bundled in this container — tests use ``events_stream`` instead;
    the decode path (``decode_kinesis_records``) is shared and unit-tested
    against synthetic Lambda-envelope records.
    """
    reader = (
        spark.readStream.format("aws-kinesis")
        .option("kinesis.streamName", stream_name)
        .option("kinesis.region", region)
        .option("kinesis.consumerType", "GetRecords")
        .option("kinesis.startingposition", starting_position)
    )
    if endpoint:
        reader = reader.option("kinesis.endpointUrl", endpoint)
    try:
        return reader.load()
    except Exception as ex:  # pragma: no cover - connector not in container
        # Only the connector-missing failure mode is rebranded with the
        # actionable message; a real configuration/auth error from an
        # INSTALLED connector propagates untouched (round-8 review: the
        # blanket rebrand sent operators to the wrong fix).
        msg = str(ex)
        if not any(
            marker in msg
            for marker in (
                "Failed to find data source",
                "DATA_SOURCE_NOT_FOUND",
                "ClassNotFoundException",
            )
        ):
            raise
        raise RuntimeError(
            "Kinesis connector (spark-sql-kinesis / aws-kinesis format) is "
            "not available in this environment; use "
            "sources.streams.events_stream for a file-backed stream with "
            "identical downstream semantics."
        ) from ex
