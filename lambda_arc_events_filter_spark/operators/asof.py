"""As-of join — SURVEY.md §2 B21.

Spark SQL has no native ASOF JOIN.  The scalable composite: tag both
sides, union them, and run a single window pass per key carrying the
last-seen right-side value forward (``last(..., ignorenulls=True)`` over an
unbounded-preceding frame).  One shuffle on the key, one sort per
partition — same cost envelope as any windowed op, no range explosion, no
per-row probe; partitions are per-key slices of bounded size, so the
construction survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    time_col: str,
    value_cols: Sequence[str],
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """For each left row, attach the latest PRIOR (or same-instant) right row
    per ``key``.

    ``left``/``right`` must share ``key`` and ``time_col`` names; each
    ``value_cols`` column of the right side lands on left rows as
    ``_asof_<col>`` plus the match timestamp as ``_asof_time``.

    ``tiebreakers``: extra ordering columns making same-instant right rows
    deterministic (last by tiebreaker wins).

    Structural preconditions are checked at plan-construction time (the
    interval-operator discipline, ADVICE r7): the internal ``_side`` /
    ``_asof_*`` names must not pre-exist on either input — ``withColumn``
    would silently overwrite a caller's column and the output would carry
    a constant instead of their data — and every ``value_cols`` entry must
    be a RIGHT-side column (a left-only name would union-pad to NULL on
    right rows and yield an all-NULL carry, silently).
    """
    # value_cols entries must not collide among themselves or with time_col
    # (ADVICE r8): value_cols=['time'] with time_col='time', or a duplicated
    # entry, would alias two different carries to the same '_asof_*' output
    # column — the same silent-collision class the reserved-name check below
    # prevents for input columns.
    if time_col in value_cols:
        raise ValueError(
            f"asof_join: value_cols must not include time_col "
            f"({time_col!r}) — the match timestamp is always carried as "
            "'_asof_time'"
        )
    aliases = [f"_asof_{c}" for c in value_cols] + ["_asof_time"]
    alias_dupes = {a for a in aliases if aliases.count(a) > 1}
    if alias_dupes:
        raise ValueError(
            f"asof_join: output alias collision {sorted(alias_dupes)} — "
            "duplicate value_cols entries, or an entry named 'time', map "
            "two carries onto one '_asof_*' column"
        )
    reserved = {"_side", "_asof_time"} | {f"_asof_{c}" for c in value_cols}
    for side_name, df in (("left", left), ("right", right)):
        hit = reserved & set(df.columns)
        if hit:
            raise ValueError(
                f"asof_join: {side_name} side already has reserved "
                f"column(s) {sorted(hit)} (internal names)"
            )
    missing = [c for c in value_cols if c not in right.columns]
    if missing:
        raise ValueError(
            f"asof_join: value_cols {missing} not in right side "
            f"(columns: {sorted(right.columns)}) — the carry would be "
            "all-NULL"
        )
    l_tag = left.withColumn("_side", F.lit(1))
    r_tag = right.withColumn("_side", F.lit(0))
    cols = sorted(set(l_tag.columns) | set(r_tag.columns))
    pad = lambda df: df.select(  # noqa: E731
        *[
            F.col(c) if c in df.columns else F.lit(None).alias(c)
            for c in cols
        ]
    )
    unioned = pad(l_tag).unionByName(pad(r_tag))
    # right rows sort before left rows at equal timestamps (_side 0 < 1), so
    # a same-instant right row IS visible to its left row — ASOF <= semantics
    w = (
        Window.partitionBy(key)
        .orderBy(time_col, "_side", *tiebreakers)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def carry(c: str):
        return F.last(
            F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True
        ).over(w)

    carried = unioned.select(
        "*",
        *[carry(c).alias(f"_asof_{c}") for c in value_cols],
        carry(time_col).alias("_asof_time"),
    ).filter(F.col("_side") == 1)

    return carried.select(*left.columns, *aliases)
