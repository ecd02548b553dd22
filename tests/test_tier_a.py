"""Tier A pipeline tests: Kinesis-envelope decode → filter → project.

The Kinesis connector isn't installable here, so the decode path is tested
against synthetic Lambda-envelope records (base64 JSON payloads) — the
exact record shape the reference consumed.  The filter/project stages are
the same functions the streaming queries use (batch/stream unification).
"""

from __future__ import annotations

import base64
import json

import pyspark.sql.functions as F
import pytest

from lambda_arc_events_filter_spark.streaming.pipeline import (
    decode_kinesis_records,
    filter_events,
    project_payload,
)


def _b64(doc: dict) -> str:
    return base64.b64encode(json.dumps(doc).encode()).decode()


EVENTS = [
    {"_id": "a1", "type": "story", "operation": "insert", "published": True,
     "canonical_url": "/news/a1", "body": "x"},
    {"_id": "a2", "type": "story", "operation": "delete", "published": True,
     "canonical_url": "/news/a2", "body": "y"},
    {"_id": "a3", "type": "video", "operation": "insert", "published": False,
     "canonical_url": "/video/a3", "body": "z"},
    {"_id": "a4", "type": "gallery", "operation": "update", "published": True,
     "canonical_url": "/photo/a4", "body": "w"},
]


def _records_df(spark):
    rows = [
        (str(i), _b64(doc), f"pk-{i}")
        for i, doc in enumerate(EVENTS)
    ]
    return spark.createDataFrame(rows, "sequenceNumber string, data string, partitionKey string")


def test_decode_parses_envelope(spark):
    out = decode_kinesis_records(_records_df(spark))
    rows = {r["event"]["_id"]: r["event"] for r in out.collect()}
    assert len(rows) == 4
    assert rows["a1"]["type"] == "story"
    assert rows["a3"]["published"] is False
    assert rows["a4"]["operation"] == "update"


def test_filter_types_ops_published(spark):
    decoded = decode_kinesis_records(_records_df(spark))
    kept = filter_events(
        decoded,
        types=["story", "gallery"],
        operations=["insert", "update"],
        published=True,
    )
    ids = sorted(r["event"]["_id"] for r in kept.collect())
    assert ids == ["a1", "a4"]  # a2 is a delete, a3 is unpublished video


def test_filter_extra_predicate(spark):
    decoded = decode_kinesis_records(_records_df(spark))
    kept = filter_events(
        decoded, extra=F.col("event.canonical_url").startswith("/news")
    )
    ids = sorted(r["event"]["_id"] for r in kept.collect())
    assert ids == ["a1", "a2"]


def test_project_strips_envelope(spark):
    decoded = decode_kinesis_records(_records_df(spark))
    out = project_payload(decoded)
    assert set(out.columns) == {
        "_id", "type", "operation", "canonical_url", "published",
        "publish_date", "body",
    }
    assert out.count() == 4


def test_malformed_payload_yields_null_event(spark):
    bad = spark.createDataFrame(
        [("0", base64.b64encode(b"not json{{").decode(), "pk")],
        "sequenceNumber string, data string, partitionKey string",
    )
    out = decode_kinesis_records(bad).collect()
    # from_json is PERMISSIVE: malformed record → null or all-null struct,
    # no crash.  Nothing routes it anywhere: a filter predicate drops it,
    # and with no predicate set it is forwarded as an all-null row.
    assert out[0]["event"] is None or all(
        v is None for v in out[0]["event"].asDict().values()
    )


def _truncated(payload: str) -> str:
    return payload[: (len(payload) // 4) * 4 - 3]  # length 1 mod 4


def test_bad_base64_yields_null_event(spark):
    """Invalid base64 in one record must not fail the batch (plain
    ``unbase64`` raises on the truncated payload with or without ANSI
    mode, see ``test_unbase64_raises_in_both_ansi_modes``): the truncated
    and the non-base64 payload each decode to a null ``event`` and count
    as malformed beside the good record."""
    good = _b64(EVENTS[0])
    truncated = _truncated(good)
    recs = spark.createDataFrame(
        [("0", good, "pk"), ("1", truncated, "pk"), ("2", "%%not*b64", "pk")],
        "sequenceNumber string, data string, partitionKey string",
    )
    out = {
        r["sequenceNumber"]: r["event"]
        for r in decode_kinesis_records(recs).collect()
    }
    assert out["0"]["_id"] == "a1"
    assert out["1"] is None and out["2"] is None
    malformed = (
        decode_kinesis_records(recs).filter(F.col("event._id").isNull()).count()
    )
    assert malformed == 2


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_unbase64_raises_in_both_ansi_modes(spark, ansi):
    """Why ``decode_kinesis_records`` uses ``try_to_binary``: plain
    ``unbase64`` fails the whole query on a truncated payload even with
    ``spark.sql.ansi.enabled=false`` (the JDK MIME Base64 decoder throws;
    no ANSI check is involved)."""
    df = spark.createDataFrame([(_truncated(_b64(EVENTS[0])),)], "data string")
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises(Exception, match="IllegalArgumentException|base64"):
            df.select(F.unbase64("data")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_write_stream_parquet_restart_exactly_once(spark, tmp_path):
    """The ARC pipeline through ``write_stream_parquet``: drain a backlog,
    add files, restart from the same checkpoint.  The sink holds every
    forwarded ``_id`` exactly once, and no micro-batch wrote more parquet
    files than the session has cores, although each batch reads more
    input files than that (the sink's one-writer-per-core coalesce)."""
    import os

    import pyarrow.parquet as pq

    from lambda_arc_events_filter_spark.sources.streams import (
        write_stream_parquet,
    )

    cores = spark.sparkContext.defaultParallelism
    # fixture_conf's 1m split size reads each tiny file as its own task, so
    # without the coalesce a batch would write ``per_trigger`` files.
    per_trigger = cores + 2
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)
    expected: set[str] = set()
    serial = 0

    def add_files(n: int) -> None:
        nonlocal serial
        for _ in range(n):
            lines = []
            for doc in EVENTS:
                serial += 1
                eid = f"{doc['_id']}-{serial}"
                lines.append(json.dumps({
                    "data": _b64({**doc, "_id": eid}),
                    "partitionKey": "pk",
                    "sequenceNumber": str(serial),
                }))
                if (doc["type"] == "story" and doc["operation"] != "delete"
                        and doc["published"]):
                    expected.add(eid)
            lines.append(json.dumps(
                {"data": "%%", "partitionKey": "pk", "sequenceNumber": "bad"}
            ))
            with open(os.path.join(src, f"part-{serial:06d}.json"), "w") as f:
                f.write("\n".join(lines))

    def drain() -> list[str]:
        raw = (
            spark.readStream.schema(
                "data string, partitionKey string, sequenceNumber string"
            )
            .option("maxFilesPerTrigger", per_trigger)
            .json(src)
        )
        kept = filter_events(
            decode_kinesis_records(raw),
            types=["story"], operations=["insert", "update"], published=True,
        )
        write_stream_parquet(project_payload(kept), sink, ckpt)
        # Every parquet file in the directory, committed or not.
        return pq.read_table(sink, columns=["_id"]).column("_id").to_pylist()

    add_files(per_trigger)
    assert sorted(drain()) == sorted(expected)
    add_files(per_trigger)
    ids = drain()
    assert len(ids) == len(set(ids)) and set(ids) == expected

    meta = os.path.join(sink, "_spark_metadata")
    files_per_batch = {}
    for b in os.listdir(meta):
        if not b.startswith("."):
            with open(os.path.join(meta, b)) as f:
                files_per_batch[b] = sum(1 for line in f if '"path"' in line)
    assert len(files_per_batch) == 2, files_per_batch
    assert max(files_per_batch.values()) <= cores, files_per_batch


def test_compaction_reduces_file_count(spark, sf_dir):
    """compact_parquet_dir bin-packs a 64-file directory into
    ceil(bytes/target) files and loses no rows."""
    import glob
    import os

    from lambda_arc_events_filter_spark.queries.sources_q import (
        _small_files_events,
        compact_parquet_dir,
    )

    src = _small_files_events(spark, sf_dir)
    n_src = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_src == 64
    dst = compact_parquet_dir(spark, src, target_file_bytes=4 * 1024 * 1024)
    n_dst = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert 1 <= n_dst < 8, n_dst
    assert (
        spark.read.parquet(dst).count() == spark.read.parquet(src).count()
    )


def test_ingest_compaction_path_is_lossless(spark, sf_dir, tmp_path):
    """catalog's ingest compaction (multi-row-group rewrite) must return
    byte-identical data to the raw fixture scan, at every table it
    rewrites.  The fixture tables of the test scale are too small to be
    rewritten, so a 10k-row single-row-group events file is synthesized
    too — one the compaction does rewrite."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lambda_arc_events_filter_spark import catalog

    big = str(tmp_path / "big")
    os.makedirs(big)
    events = pq.read_table(catalog.table_path(sf_dir, "events"))
    reps = -(-10_000 // events.num_rows)
    pq.write_table(
        pa.concat_tables([events] * reps),
        catalog.table_path(big, "events"),
        row_group_size=1 << 20,
    )
    src = catalog.table_path(big, "events")
    copy = catalog._ingested_path(big, "events")
    assert copy != src, "the synthesized table must take the compaction path"
    try:
        for d, table in ((sf_dir, "events"), (sf_dir, "lineitem"), (big, "events")):
            raw = catalog._read_parquet(spark, table, catalog.table_path(d, table))
            compacted = catalog._load_uncached(spark, d, table)
            assert raw.schema == compacted.schema
            assert raw.exceptAll(compacted).count() == 0
            assert compacted.exceptAll(raw).count() == 0
    finally:
        # the copy is keyed by this temp file's mtime: never reused
        os.remove(copy)


def test_catalog_handles_both_ts_units(spark, tmp_path):
    """Fixture generations have shipped events.ts as TIMESTAMP(NANOS)
    (round 1) and TIMESTAMP(MICROS) (round 2); the catalog probes the
    footer per file.  Synthesize both layouts and assert identical
    loaded values, through the batch loader and the stream replay alike —
    the regression test for the 1000x-corruption bug the round-2
    regeneration exposed."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lambda_arc_events_filter_spark import catalog

    ts = [
        dt.datetime(2024, 1, 1, 10, 0, 0, 123456),
        dt.datetime(2024, 1, 2, 11, 30, 0, 654321),
    ]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": pa.array(["view", "purchase"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k": 1}', '{"k": 2}']),
    }
    from lambda_arc_events_filter_spark.sources.streams import (
        events_stream,
        run_to_memory,
    )

    loaded, streamed = {}, {}
    for unit in ("us", "ns"):
        d = str(tmp_path / f"sf_{unit}")
        os.makedirs(d)
        table = pa.table(
            {
                "event_id": cols["event_id"],
                "ts": pa.array(ts, pa.timestamp(unit)),
                "user_id": cols["user_id"],
                "event_type": cols["event_type"],
                "value": cols["value"],
                "props": cols["props"],
            }
        )
        pq.write_table(
            table,
            os.path.join(d, "events.parquet"),
            store_schema=False,  # force the physical unit into the footer
        )
        df = catalog._load_uncached(spark, d, "events")
        loaded[unit] = sorted(
            (r.event_id, r.ts) for r in df.select("event_id", "ts").collect()
        )
        stream = run_to_memory(
            events_stream(spark, d).select("event_id", "ts"), "ts_unit"
        )
        streamed[unit] = sorted((r.event_id, r.ts) for r in stream.collect())
        shutil.rmtree(d)
    assert loaded["us"] == loaded["ns"], loaded
    assert loaded["us"][0][1] == ts[0]
    assert streamed == loaded, streamed


def test_filter_empty_allowlist_matches_nothing(spark):
    """None = predicate not configured (no filter); EMPTY allowlist =
    match nothing.  A deconfigured allowlist must fail closed, not
    silently forward every event (round-8 review)."""
    decoded = decode_kinesis_records(_records_df(spark))
    assert filter_events(decoded, types=[]).count() == 0
    assert filter_events(decoded, operations=[]).count() == 0
    assert filter_events(decoded, types=None).count() == decoded.count()
