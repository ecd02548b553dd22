"""Tier A — the reference's complete surface, Spark-first.

The reference (`globeandmail/lambda-arc-events-filter`) is an AWS Lambda
that consumes an Arc XP ("ARC") Kinesis content-event feed, filters the
events, and forwards survivors (its entire published spec is
/root/reference/README.md:2 — "Filters ARC kinesis feed events").  Here
that pipeline is:

    source (Kinesis / file stream)                      [A1]
      → decode_kinesis_records   (b64 + JSON parse)     [A2]
      → filter_events            (predicates)           [A3]
      → project_payload          (envelope strip)       [A4]
      → sink (parquet or memory via sources.streams)    [A5]

Every stage is a plain DataFrame→DataFrame function, so the SAME code runs
batch (backfill over parquet) and streaming (live feed) — Catalyst
incrementalizes it; nothing here knows which mode it's in.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Envelope of an Arc XP content event as delivered through the
#: Lambda/Kinesis envelope: a small stable head (type, operation, id,
#: timestamps, published flag) over a large variable ANS body. [PUBLIC]
ARC_EVENT_SCHEMA = StructType(
    [
        StructField("_id", StringType(), True),
        StructField("type", StringType(), True),  # story / video / gallery / image
        StructField("operation", StringType(), True),  # insert / update / delete
        StructField("canonical_url", StringType(), True),
        StructField("published", BooleanType(), True),
        StructField("publish_date", TimestampType(), True),
        StructField("body", StringType(), True),  # remainder of the ANS doc
    ]
)


def decode_kinesis_records(records: DataFrame, data_col: str = "data") -> DataFrame:
    """A2: base64-decode Kinesis record payloads and parse the event JSON.

    Input: a DataFrame with a base64 ``data`` column (the
    ``Records[].kinesis.data`` field of the Lambda envelope).  Output: the
    original columns plus a typed ``event`` struct.  ``try_to_binary`` +
    ``from_json`` are Catalyst expressions — decode happens columnar,
    JVM-side, per micro-batch (vs per-record Python in a Lambda handler).

    A malformed payload never fails the batch: invalid base64 decodes to
    null (on a truncated payload ``unbase64`` would raise and kill the
    stream, with or without ANSI mode: the JDK Base64 decoder throws), and
    ``from_json`` is PERMISSIVE, so both bad base64 and bad JSON leave a
    null or all-null ``event`` — count them as ``event._id IS NULL``.
    """
    return records.withColumn(
        "event",
        F.from_json(
            F.try_to_binary(F.col(data_col), F.lit("base64")).cast("string"),
            ARC_EVENT_SCHEMA,
        ),
    )


def filter_events(
    df: DataFrame,
    types: Sequence[str] | None = None,
    operations: Sequence[str] | None = None,
    published: bool | None = None,
    extra: Column | None = None,
    event_col: str = "event",
) -> DataFrame:
    """A3: the reference's namesake operator — keep events matching the
    configured predicates.  Predicates compile to Catalyst filters and push
    down to the source scan in batch mode.

    ``None`` means "predicate not configured" (no filter); an EMPTY
    allowlist means "match nothing" — a deconfigured allowlist must fail
    closed, not silently forward everything (round-8 review; the old
    truthiness test conflated the two).
    """
    e = F.col(event_col)
    cond = F.lit(True)
    if types is not None:
        cond = cond & (
            e.getField("type").isin(*types) if types else F.lit(False)
        )
    if operations is not None:
        cond = cond & (
            e.getField("operation").isin(*operations)
            if operations
            else F.lit(False)
        )
    if published is not None:
        cond = cond & (e.getField("published") == F.lit(published))
    if extra is not None:
        cond = cond & extra
    return df.filter(cond)


def project_payload(df: DataFrame, event_col: str = "event") -> DataFrame:
    """A4: strip the Kinesis/Lambda envelope; forward only the event fields."""
    return df.select(f"{event_col}.*")
