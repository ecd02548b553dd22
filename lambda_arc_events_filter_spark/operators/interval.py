"""Chunked interval-overlap operators.

A raw interval-overlap theta join (``a.start <= b.end AND b.start <=
a.end``) plans as a nested loop — quadratic and a scale-killer.  The
chunked strategy here turns it into an EQUI-join:

1. time is cut into fixed ``cell_s``-second cells; each interval explodes
   to the cells it touches (bounded fan-out as long as intervals are
   narrow relative to the cell — interval width discipline IS the design
   point);
2. the join becomes an equi-join on the cell id and the exact overlap
   predicate filters the superset;
3. each overlapping pair is counted only in its CANONICAL cell — the max
   of the two start-cells, which always lies in the intersection of their
   cell ranges — so matches are unique by construction: no distinct, no
   second shuffle of the raw pair relation;
4. a LEFT join keeps every left interval through the aggregation (each
   owns ≥ 1 cell row), so zero-overlap intervals come out with count 0
   without a separate restore join.

At 100 TB the cell id is the shuffle key: time locality becomes hash
locality, each cell's population is bounded by interval DENSITY (events
per cell), not corpus size, and a hot cell takes the standard salting
lever.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _cells(start: str, end: str, cell_s: int) -> Column:
    seq = F.sequence(
        F.floor(F.unix_timestamp(start) / cell_s).cast("long"),
        F.floor(F.unix_timestamp(end) / cell_s).cast("long"),
    )
    # A descending interval (start > end) would otherwise be SILENTLY
    # wrong: same-cell descents still own one cell, cross-cell descents
    # make ``sequence`` raise an opaque step error or the row own no
    # cells.  Precondition violations are loud instead (ADVICE r7).
    # NULL bounds keep the legacy semantics (null sequence → explode
    # drops the row), hence the explicit non-null guard.
    bad = (
        F.col(start).isNotNull()
        & F.col(end).isNotNull()
        & (F.col(start) > F.col(end))
    )
    return F.when(~bad, seq).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "interval_overlap_count: descending interval "
                    f"({start} > {end}) at {start}="
                ),
                F.col(start).cast("string"),
                F.lit(f", {end}="),
                F.col(end).cast("string"),
            )
        )
    )


def interval_overlap_count(
    a: DataFrame,
    b: DataFrame,
    a_keys: Sequence[str],
    a_start: str = "a_start",
    a_end: str = "a_end",
    b_start: str = "b_start",
    b_end: str = "b_end",
    cell_s: int = 600,
    count_col: str = "n_matches",
) -> DataFrame:
    """Per-left-interval count of overlapping right intervals (closed
    bounds: ``a_start <= b_end AND b_start <= a_end``), one output row per
    left interval including zero-match ones.

    ``a_keys`` are the columns of ``a`` that identify (and survive to) the
    output — they must be unique per left interval.  Structural
    preconditions are checked at plan-construction time: ``a`` and ``b``
    column sets must be disjoint and neither may already contain the
    injected ``_cell``.  Intervals must satisfy ``start <= end``; a
    descending interval raises at run time via a codegen'd
    ``raise_error`` guard on the cell enumeration (cost: one comparison
    per row), instead of silently owning the wrong cells.
    """
    for side, df in (("a", a), ("b", b)):
        if "_cell" in df.columns:
            raise ValueError(
                f"interval_overlap_count: side {side!r} already has a "
                "'_cell' column (reserved internal name)"
            )
    shared = set(a.columns) & set(b.columns)
    if shared:
        raise ValueError(
            "interval_overlap_count: a/b column names must be disjoint; "
            f"shared: {sorted(shared)}"
        )
    ac = a.withColumn("_cell", F.explode(_cells(a_start, a_end, cell_s)))
    bc = b.withColumn("_cell", F.explode(_cells(b_start, b_end, cell_s)))
    a_cell0 = F.floor(F.unix_timestamp(a_start) / cell_s).cast("long")
    b_cell0 = F.floor(F.unix_timestamp(b_start) / cell_s).cast("long")
    match = (
        (F.col(a_start) <= F.col(b_end))
        & (F.col(b_start) <= F.col(a_end))
        & (F.col("_cell") == F.greatest(a_cell0, b_cell0))
    )
    return (
        ac.join(bc, "_cell", "left")
        .groupBy(*a_keys)
        .agg(F.count(F.when(match, F.lit(1))).cast("long").alias(count_col))
    )
