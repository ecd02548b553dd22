"""The batch sessionization rule shared by the event-session queries."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def with_session_seq(events: DataFrame) -> DataFrame:
    """``events`` plus ``session_seq`` (bigint): the 1-based number of each
    event's session within its ``user_id``.  A new session starts at a
    user's first event and wherever the gap to the user's previous event
    is ≥ 30 minutes — the same ≥-gap boundary as Spark's exclusive
    ``session_window`` end.

    The gap flag (lag) and its running sum share ONE window,
    ``partitionBy(user_id).orderBy(ts)``, so one hash(user_id) exchange
    and one sort serve both, and a later user-keyed window or groupBy
    reuses the exchange.  Tied timestamps have a gap of 0, so they share
    a session under any tie order.  Gaps are exact microseconds
    (``unix_micros``): casting a timestamp to long truncates to epoch
    seconds and would misclassify sub-second-accurate gaps.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # two steps: a window expression cannot nest inside another window's
    # aggregate, so the flag is a column first (same exchange and sort)
    return (
        events.withColumn("_new_sess", new_sess)
        .withColumn("session_seq", F.sum("_new_sess").over(run))
        .drop("_new_sess")
    )
