"""Custom Python DataSource (Spark 4 DataSource API): a row-group-parallel
parquet replay source registered as ``format("events_replay")``.

Why this exists: the reference system's one external dependency is a
Kinesis consumer; the Spark-4 Python DataSource API is how a connector
with no JVM implementation (an internal feed, a bespoke archive format, a
REST-paginated API) plugs into the engine while keeping Spark's
parallelism model — ``partitions()`` declares the split points and each
task reads only its split.  This implementation replays the fixture
``events`` table one PARQUET ROW GROUP per input partition, streaming
``pyarrow.RecordBatch``es (the Arrow fast path — no per-row Python
objects), so the scan parallelizes exactly like the native reader and the
whole downstream plan is ordinary Catalyst.

SERIALIZATION RULE (same as the repo's Python-UDF closure rule, enforced
by the /tmp driver-sim): the DataSource classes are defined INSIDE a
factory function, never at module level.  Spark pickles the data source
to its Python planner/worker processes; a module-level class pickles BY
REFERENCE and those processes cannot import this package when the driver
process starts outside /root/repo — measured failure:
PYTHON_DATA_SOURCE_ERROR on instance creation.  Closure-defined classes
cloudpickle BY VALUE and carry their own code.

The custom source is the extension seam, not a replacement: the native
parquet reader stays the hot path everywhere else (pushdown, row-group
skipping).  The oracle gate proves the source is transparent: reading
through it equals reading the table natively.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def make_events_replay_datasource():
    """Build the DataSource class closure-locally (see module docstring)."""

    class _RowGroupPartition(InputPartition):
        """One parquet row group = one Spark input partition."""

        def __init__(self, path: str, row_group: int):
            self.path = path
            self.row_group = row_group

    class _EventsReplayReader(DataSourceReader):
        def __init__(self, options: dict):
            path = options.get("path")
            if not path:
                raise ValueError("events_replay requires option 'path'")
            self.path = path

        def partitions(self):
            # Planning: enumerate row groups from the footer only (no
            # data read).  Each becomes an independent task — the same
            # split model the native reader uses.
            import pyarrow.parquet as pq

            n = pq.ParquetFile(self.path).metadata.num_row_groups
            return [_RowGroupPartition(self.path, i) for i in range(n)]

        def read(self, partition):
            # Executor-side: read ONLY this task's row group, yield Arrow
            # batches (no Python row objects on the data path).
            # Spark's Arrow ingestion rejects timestamp[ns] columns
            # (UNSUPPORTED_ARROWTYPE) and does NOT coerce yielded batches
            # to the declared schema — so nanosecond timestamps are cast
            # to their raw int64 here, matching the LongType the caller
            # declares for ns-layout fixtures (the same dual-layout
            # contract as catalog.load / events_stream).
            import pyarrow as pa
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(partition.path)
            tbl = pf.read_row_group(partition.row_group)
            fields = []
            changed = False
            for f in tbl.schema:
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
                    fields.append(pa.field(f.name, pa.int64()))
                    changed = True
                else:
                    fields.append(f)
            if changed:
                tbl = tbl.cast(pa.schema(fields))
            yield from tbl.to_batches()

    class EventsReplayDataSource(DataSource):
        """``spark.read.format("events_replay").schema(S).option("path", p)``"""

        @classmethod
        def name(cls) -> str:
            return "events_replay"

        def reader(self, schema) -> _EventsReplayReader:
            return _EventsReplayReader(self.options)

    return EventsReplayDataSource


def make_events_replay_reader(options: dict):
    """Reader instance for direct (test) use — same closure-built class."""
    return make_events_replay_datasource()(options=options).reader(None)


_REGISTERED: set[tuple[str, str]] = set()


def register(spark, make_datasource) -> None:
    """Idempotently register the data source that ``make_datasource``
    builds (one of this module's ``make_*_datasource`` factories) with
    this session."""
    key = (make_datasource.__name__, spark.sparkContext.applicationId)
    if key not in _REGISTERED:
        spark.dataSource.register(make_datasource())
        _REGISTERED.add(key)


def make_events_stream_chunks_datasource():
    """Streaming twin of the replay source: a Spark-4 Python STREAMING
    data source (``SimpleDataSourceStreamReader``) that replays the
    events parquet in fixed-size row chunks (option ``chunk``, default
    20000 rows), one chunk per micro-batch, with JSON offsets
    ``{"row": k}`` — the shape of a REST-paginated or cursor-based feed
    connector (the reference's Kinesis consumer is exactly this: poll →
    records + next shard iterator).

    Rows carry the columns of the schema the caller declares with
    ``readStream.schema(...)`` (default: all four), and only those
    columns are read from the file: ``event_id``, ``event_type``,
    ``value``, and ``ts_us`` — the event time as epoch MICROSECONDS
    (int64), so watermarks and event-time windows work through the
    connector.  ``ts_us`` normalizes the fixture's ns/µs timestamp-unit
    drift by casting the arrow column to timestamp[us] before extracting
    int64 — the same dual-layout contract as ``catalog.read_events``.

    API notes discovered the hard way (pinned by tests):

    - ``read(start)`` must return an **iterator of tuples** — the wrapper
      calls ``next()`` on it (a list fails) — that is also **picklable**
      (a generator fails: the prefetched chunk is pickled driver→executor),
      so a list_iterator is the only shape satisfying both.
    - The simple-reader wrapper prefetches ONE chunk per ``latestOffset``
      poll, so ``availableNow`` stops after the first chunk; bounded
      replays drain with ``processAllAvailable`` (``run_to_memory``'s
      ``drain=True``).
    - ``readBetweenOffsets`` replays a committed range after failure —
      same slice, deterministic because offsets are row positions.

    The simple API trades scale for simplicity — chunks flow through the
    driver (fine for a control-plane feed; Kinesis-scale fan-in would use
    the partitioned ``DataSourceStreamReader`` instead, one shard per
    partition, the exact split model of ``_EventsReplayReader``).
    Classes are closure-local per the module's serialization rule.
    """
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    columns = "event_id bigint, ts_us bigint, event_type string, value double"

    class _ChunkStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options: dict, schema):
            path = options.get("path")
            if not path:
                raise ValueError("events_stream_chunks requires option 'path'")
            self.path = path
            self.chunk = int(options.get("chunk", "20000"))
            names = (
                [c.split()[0] for c in columns.split(",")]
                if schema is None
                else schema.fieldNames()
            )
            # parquet column behind each output column
            self.sources = ["ts" if c == "ts_us" else c for c in names]

        def initialOffset(self):
            return {"row": 0}

        def _slice(self, start_row: int, end_row: int):
            import pyarrow as pa
            import pyarrow.parquet as pq

            tbl = pq.read_table(self.path, columns=self.sources)
            tbl = tbl.slice(start_row, end_row - start_row)
            cols = [
                tbl.column(c).cast(pa.timestamp("us")).cast(pa.int64())
                if c == "ts"
                else tbl.column(c)
                for c in self.sources
            ]
            return iter(list(zip(*(c.to_pylist() for c in cols))))

        def read(self, start):
            import pyarrow.parquet as pq

            n = pq.ParquetFile(self.path).metadata.num_rows
            s = int(start["row"])
            e = min(n, s + self.chunk)
            return (self._slice(s, e), {"row": e})

        def readBetweenOffsets(self, start, end):
            return self._slice(int(start["row"]), int(end["row"]))

    class EventsStreamChunksDataSource(DataSource):
        """``spark.readStream.format("events_stream_chunks")``"""

        @classmethod
        def name(cls) -> str:
            return "events_stream_chunks"

        def schema(self) -> str:
            return columns

        def simpleStreamReader(self, schema) -> _ChunkStreamReader:
            return _ChunkStreamReader(self.options, schema)

    return EventsStreamChunksDataSource


def make_jsonl_audit_datasource():
    """Custom Python batch SINK (Spark-4 DataSource writer API): writes
    one JSON-lines part file per input partition plus a driver-side
    ``_MANIFEST.json`` recording per-part row counts — the audit-sink
    connector shape (a REST batch uploader, an internal archive format)
    for destinations with no JVM writer.

    Writer protocol: each task's ``write(iterator)`` returns a
    WriterCommitMessage; the driver's ``commit(messages)`` runs ONLY
    after every task succeeded — exactly-once lands on the manifest
    write being the atomic publish step (readers resolve parts through
    the manifest, so uncommitted part files are invisible).  Classes are
    closure-local per the module's serialization rule.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _PartMessage(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, options: dict):
            path = options.get("path")
            if not path:
                raise ValueError("jsonl_audit requires option 'path'")
            self.path = path

        def write(self, iterator):
            import json
            import os
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            os.makedirs(self.path, exist_ok=True)
            part = os.path.join(self.path, f"part-{pid:05d}.jsonl")
            n = 0
            with open(part, "w") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict(), default=str) + "\n")
                    n += 1
            return _PartMessage(part, n)

        def commit(self, messages):
            import json
            import os

            manifest = {
                "parts": sorted(
                    (
                        {"path": m.path, "n_rows": m.n_rows}
                        for m in messages
                        if m is not None
                    ),
                    key=lambda d: d["path"],
                ),
                "total_rows": sum(m.n_rows for m in messages if m),
            }
            with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
                json.dump(manifest, f)

        def abort(self, messages):
            import os
            import shutil

            if os.path.isdir(self.path):
                shutil.rmtree(self.path, ignore_errors=True)

    class JsonlAuditDataSource(DataSource):
        """``df.write.format("jsonl_audit").option("path", p).save()``"""

        @classmethod
        def name(cls) -> str:
            return "jsonl_audit"

        def writer(self, schema, overwrite) -> _JsonlWriter:
            return _JsonlWriter(self.options)

    return JsonlAuditDataSource
