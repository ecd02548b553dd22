"""SparkSession factory tuned for the engine.

Used by tests and ``bench.py``; driver-supplied sessions work too — every
query in the registry is session-config-agnostic (no reliance on session
timezone: fixture timestamps are tz-naive parquet, which round-trips
wall-clock-identically under any session tz; see FIXTURES.md).

Scale posture (SURVEY.md §4): AQE on (runtime re-planning, skew-join
splitting, shuffle-partition coalescing), CBO join reordering, Arrow for
pandas exchange, RocksDB state store for streaming state.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def fixture_conf() -> dict[str, str]:
    """Toy-scale sizing for the sf0.001-0.1 parquet FIXTURES — pass as
    ``get_spark(extra_conf=fixture_conf())`` from tests/tools/bench only.

    Fixture tables are single-digit-MB files: the 128m cluster default
    packs each into ONE scan task, and AQE's 64m advisory coalesces
    CPU-heavy but byte-light stages (HOF shingling, signature arithmetic,
    pair joins) to one task.  1m splits a compacted multi-row-group file
    (catalog._ingested_path) across the local cores; 4m keeps local
    post-shuffle parallelism.  Cluster deployments use the defaults in
    ``get_spark`` (SCALE.md §confs).
    """
    return {
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    }


def get_spark(
    app_name: str = "lambda-arc-events-filter-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Local session on ``SPARK_GRAFT_CPUS`` cores (default: the usable
    cores) with ``SPARK_GRAFT_SHUFFLE`` shuffle partitions (default 32);
    ``extra_conf`` overrides any setting built here."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = f"local[{cpus}]"
    shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf = {
        # AQE is the 100 TB posture (runtime re-planning, skew splitting,
        # partition coalescing) and stays the default.  It is also an
        # env-tunable like the shuffle width: each adaptive exchange is a
        # stage-materialization BARRIER, and on sub-second fixture-scale
        # queries that barrier is the dominant cost (measured at sf0.1:
        # q01 0.42 -> 0.19 s, 3-way star 0.41 -> 0.27 s with AQE off) —
        # bench.py sets SPARK_GRAFT_AQE=false for exactly the reason a
        # production deployment tunes it off for interactive sub-second
        # dashboards and on for batch scans.
        "spark.sql.adaptive.enabled": os.environ.get(
            "SPARK_GRAFT_AQE", "true"
        ),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # DEFAULTS ARE THE CLUSTER VALUES.  The 64m advisory and 128m scan
        # split are right for real data volumes; the FIXTURE harnesses
        # (bench.py / tests / tools) opt INTO toy-scale sizing explicitly
        # via fixture_conf() below — a bare get_spark() must never bake
        # toy-scale settings into a production-shaped session.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        # Checkpoint and state logs through Hadoop's FileSystem API, not
        # the default FileContext one.  Both write a temp file and rename
        # it into place, never over an existing entry.  Without libhadoop
        # the FileContext path forks `chmod` on every create and `ls -ld`
        # on every rename: 30-45 ms per offsets/commits/sources/sink-
        # metadata entry, four entries per micro-batch (walCommit and
        # commitOffsets 32 -> 8 ms per batch on 4 cores; SCALE.md
        # §Streaming).
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def temporary_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set the session confs in ``conf`` for the body of the ``with``,
    then put each one back, also when the body raises: a conf the session
    had is restored to its value, a conf it did not have is unset (so it
    falls back to Spark's default, not to a value leaked from here)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
