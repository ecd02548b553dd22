"""Banded global-order primitives.

A ``Window.orderBy(...)`` with no partition spec plans as WindowExec over
``SinglePartition`` — ALL rows move to one task ("No Partition Defined"
warning).  Fine for a relation bounded by construction (a ``limit(k)``, a
calendar series); a scale bug for anything that grows with the data.

These helpers compute the same order statistics with no single-partition
exchange AND exactly one shuffle of the fact relation:

1. cut the leading order column's domain into ~``num_partitions`` BANDS
   at sampled quantile boundaries (one approxQuantile probe at plan
   construction; accuracy only affects band balance, never correctness)
   — the band id is a codegen'd comparison chain over plan LITERALS, so
   any fixed boundary is order-consistent: every row of band i precedes
   every row of band i+1 in the total order;
2. per-band (parallel) rank / running aggregate — the band window's
   clustering requirement is satisfied by ONE hash exchange;
3. a per-band summary relation (≤ bands+2 rows — broadcast-sized at ANY
   data volume) gives each band the offset contributed by all bands
   before it.

Why not the textbook ``repartitionByRange`` + window-on-
``spark_partition_id()``: Catalyst cannot prove range partitioning
satisfies the window's ClusteredDistribution(_pid), so it stacks a SECOND
full hash exchange on top of the range exchange — the fact relation
shuffles twice (read off the executed plan, round 4).  It also forces a
fragile exchange-reuse invariant (the range partitioner SAMPLES, so the
summary branch must canonicalize to the SAME physical exchange or the
offsets rebase the wrong rows — ~90 % of ranks silently off when column
pruning diverged the branches).  Literal band boundaries dissolve both
problems: one shuffle, and every branch recomputes the identical band id
from the row itself, so no plan-shape invariant is load-bearing.  The
summary branch never touches the fact shuffle at all — it is a
map-combinable 2-column scan aggregate.

The leading order column must be bandable: numeric, decimal, timestamp or
date (a monotonic cast to double).  Any other type raises ``ValueError``.

Callers MUST pass a TOTAL order (include a unique tiebreak key).  The band
cut (probe, boundary cache, comparison chain, band-count default) is
shared with ``functions/stats.py::group_percentile_cont``; the helpers
here generalize it to rank + running sum/max/min with inclusive or
exclusive frames; bounded lag/lead/sliding frames build on the global
rank via rank-shifted equi-joins (``global_order_neighbors`` — chosen
over a ghost-row partition shift, whose one-partition reach silently
loses neighbors across empty/sparse bands; regression-tested).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lambda_arc_events_filter_spark.cache import band_bounds

#: running-aggregate kinds → (aggregator, cross-partition offset combiner)
_AGGS = {
    "sum": (F.sum, lambda local, off: local + off),
    "max": (F.max, lambda local, off: F.greatest(local, off)),
    "min": (F.min, lambda local, off: F.least(local, off)),
}

OrderBy = Sequence[str | tuple[str, str]]


def _parse_order(order_by: OrderBy) -> tuple[list[Column], list[str], list[str]]:
    cols: list[Column] = []
    names: list[str] = []
    directions: list[str] = []
    for o in order_by:
        if isinstance(o, str):
            name, direction = o, "asc"
        else:
            name, direction = o
        if direction not in ("asc", "desc"):
            raise ValueError(f"order direction must be asc|desc, got {direction!r}")
        cols.append(F.col(name).desc() if direction == "desc" else F.col(name))
        names.append(name)
        directions.append(direction)
    return cols, names, directions


#: dtypes whose cast to double is order-preserving (monotonic), making the
#: leading order column bandable.  Monotonicity is all banding needs: two
#: values that collide after rounding land in the SAME band, never a
#: misordered one.
_NUMERIC_DTYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double"}
)


def _default_partitions(df: DataFrame, num_partitions: int | None) -> int:
    """Band count: ``num_partitions``, else the session's parallelism
    capped at 32."""
    if num_partitions is not None:
        return num_partitions
    return min(32, df.sparkSession.sparkContext.defaultParallelism)


def _as_double(df: DataFrame, name: str) -> Column:
    """Column ``name`` cast to double, order-preserving, or ``ValueError``
    when its type has no such cast (strings, arrays, ...)."""
    dt = dict(df.dtypes)[name]
    if dt in _NUMERIC_DTYPES or dt.startswith(("decimal", "timestamp")):
        return F.col(name).cast("double")
    if dt == "date":
        return F.col(name).cast("timestamp").cast("double")
    raise ValueError(
        f"global_order_stats: leading order column {name!r} has type "
        f"{dt}, which cannot be cut into value bands; lead the order with "
        "a numeric, decimal, timestamp or date column"
    )


def _band_bounds(
    df: DataFrame, name: str, x: Column, n_bands: int, materialize: bool = True
) -> tuple[DataFrame, list[float]]:
    """``(df, bounds)``: ``df``, localCheckpointed once if it is derived
    (``materialize=False`` skips that), and the sorted cut points that
    split ``x`` (column ``name`` as a double) into ~``n_bands`` bands.

    The cut points come from one approxQuantile probe (a GK-sketch scan
    of the single pruned column; the driver receives ~n_bands doubles)
    with NaN bounds dropped: an all-NaN or empty column would otherwise
    make the sort order-unstable and the chain non-monotone.  They are
    session-cached in ``cache.band_bounds`` per (app, input plan,
    column, band count).  The probe only steers band balance (any fixed
    cuts are order-consistent), so repeat builds over the same input
    skip the job, and a stale or colliding entry is still correct.  The
    key is taken BEFORE materialization: a localCheckpoint gets a fresh
    plan id per call, while the plan it checkpoints is call-stable.
    """
    key = (
        df.sparkSession.sparkContext.applicationId,
        df.semanticHash(),
        name,
        n_bands,
    )
    if materialize:
        df = _materialize_if_derived(df)
    qs = [i / n_bands for i in range(1, n_bands)]
    if not qs:  # one band: nothing to cut
        return df, []
    return df, band_bounds(
        key,
        lambda: sorted(
            {
                b
                for b in df.select(x.alias("_v")).stat.approxQuantile(
                    "_v", qs, 0.01
                )
                if b == b
            }
        ),
    )


def _band_chain(x: Column, bounds: Sequence[float]) -> Column:
    """Ascending band id of ``x``: the index of the first bound ``b`` with
    ``x <= b``, or ``len(bounds)`` past the last (NaN, which sorts above
    every double, included)."""
    band: Column = F.lit(len(bounds))
    for i, b in reversed(list(enumerate(bounds))):
        band = F.when(x <= F.lit(b), F.lit(i)).otherwise(band)
    return band


def _materialize_if_derived(df: DataFrame) -> DataFrame:
    """Lazily localCheckpoint ``df`` unless it is a bare scan chain.

    The banded rank evaluates its input three times (boundary probe,
    band-window branch, band-summary branch).  For a scan/filter/project
    chain that is three cheap pruned parquet reads; for a DERIVED relation
    (aggregate, join, window — e.g. Pareto's per-part revenue rollup) it
    would triple the upstream work, so materialize once instead.  Derived
    inputs to a global-order computation are group-level rollups — much
    smaller than the fact relation — so caching them is safe at any scale,
    whereas a raw fact projection is exactly what one should NOT pin to
    executor storage at 100 TB; the bare-scan test separates the two."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    markers = ("Aggregate", "Join", "Window", "Deduplicate", "Generate")
    if any(m in plan for m in markers):
        return df.localCheckpoint(eager=False)
    return df


def global_order_stats(
    df: DataFrame,
    order_by: OrderBy,
    *,
    rank: str | None = None,
    running: Mapping[str, tuple[str, str]] | None = None,
    totals: Mapping[str, tuple[str, str]] | None = None,
    exclusive: bool = False,
    key: Sequence[str] | None = None,
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Global ``row_number`` and/or running aggregates over a total order
    without a single-partition WindowExec.

    ``order_by``: column names, optionally ``(name, "desc")`` — must be a
    total order.  ``rank``: output alias for the 1-based global
    row_number (long).  ``running``: alias → (column_name, kind) with
    kind in {sum, max, min}.  ``exclusive=True`` ends every running frame
    one row BEFORE the current row (NULL on the first global row).

    ``totals``: alias → (column_name, kind) attaches the GRAND aggregate
    of a column to every output row — for free.  The per-band summary
    the offsets already need also carries each band's total, and the
    grand value is one more window expression over the same ≤ bands+2-row
    single-partition relation (same partition spec and ordering, so no
    extra exchange, no extra pass over the fact).  Callers that need a
    running share (cum/total) previously paid a THIRD fact evaluation
    for a separate ``df.agg(...)`` + crossJoin — measured on pareto-abc
    at sf0.1: 0.35 s three-pass vs 0.26 s with ``totals`` (r9).

    If ``df`` has columns beyond the order/base columns, pass ``key`` — a
    unique key that is PART of the order — and the helper computes on the
    core projection and joins results back on it, so only the order and
    base columns cross the band shuffle.  The leading order column must
    be bandable (see the module docstring); another type raises
    ``ValueError``.

    Float caveat: the cross-band combine re-associates a double sum
    (per-band totals first), so double running sums can drift ~1 ulp
    versus a sequential fold.  Integer sums and max/min are exact — use
    the engine-wide integer-cents discipline when the oracle must agree
    bit-for-bit.

    ``materialize=False`` skips the derived-input localCheckpoint
    (``_materialize_if_derived``): the helper's three input evaluations
    then run as a concurrent plan diamond instead of build-then-probe.
    Since the round-8 plan-cache guard, an embedded checkpoint also makes
    the whole query ineligible for the prepared-plan cache (a private
    materialization must re-build per execution), which flips the
    economics for callers whose upstream is one cheap rollup — measured
    on pareto-abc at sf0.1: 0.78 s honest checkpoint-per-rep vs 0.35 s
    checkpoint-free prepared.  Keep the default for derived inputs that
    are genuinely expensive to recompute three times.
    """
    running = dict(running or {})
    totals = dict(totals or {})
    if rank is None and not running:
        raise ValueError("need at least one of rank=/running=")
    for alias, (_, kind) in {**running, **totals}.items():
        if kind not in _AGGS:
            raise ValueError(f"unknown running kind {kind!r} for {alias!r}")
    taken = set(running) | ({rank} if rank else set()) | set(df.columns)
    bad = [a for a in totals if a in taken]
    if bad:
        raise ValueError(
            f"totals aliases {bad} collide with running/rank/input columns"
        )
    # The helper's internal working columns and its generated-prefix
    # namespaces are reserved too: an alias or input column landing on
    # one (e.g. totals={'_orn': ...}, or an input column named ``_tt_x``
    # with totals alias ``x``) would produce duplicate columns in the
    # offsets relation and be silently dropped by the final ``drop``
    # instead of raising (same class as asof_join's reserved-name check).
    reserved_exact = {"_pid", "_orn", "_cnt", "_lrn"}
    reserved_prefixes = ("_lr_", "_po_", "_pt_", "_tt_")
    aliases = set(running) | set(totals) | ({rank} if rank else set())
    for name_set, what in ((aliases, "alias"), (set(df.columns), "column")):
        hit = sorted(
            c
            for c in name_set
            if c in reserved_exact or c.startswith(reserved_prefixes)
        )
        if hit:
            raise ValueError(
                f"global_order_stats: {what}s {hit} collide with the "
                f"helper's reserved internal names "
                f"({sorted(reserved_exact)} and prefixes "
                f"{list(reserved_prefixes)})"
            )
    num_partitions = _default_partitions(df, num_partitions)
    cols, order_names, order_dirs = _parse_order(order_by)
    base_names = [c for c, _ in running.values()] + [
        c for c, _ in totals.values()
    ]
    core_names = list(dict.fromkeys(order_names + base_names))

    extra = [c for c in df.columns if c not in core_names]
    if extra:
        if key is None:
            raise ValueError(
                f"df carries non-core columns {extra}; pass key= so the "
                "helper can compute on the core projection and join back"
            )
        key = list(key)
        if not set(key) <= set(order_names):
            raise ValueError("key must be part of the order (total order)")
    else:
        key = None
    core = df.select(*core_names)  # also fixes the column order

    # ONE fact shuffle (the hash exchange the band window requires).  The
    # summary branch is a map-combinable aggregate over a second pruned
    # SCAN — deterministic band literals mean the two branches need no
    # shared physical exchange to agree.  Band ids ASCEND in the direction
    # of the total order: nulls-first for asc (band −1), nulls-last for
    # desc (band n+1), matching Spark's window null ordering.
    lead, lead_dir = order_names[0], order_dirs[0]
    x = _as_double(core, lead)
    core, bounds = _band_bounds(core, lead, x, num_partitions, materialize)
    n = len(bounds)
    asc = _band_chain(x, bounds)
    if lead_dir == "asc":
        band = F.when(F.col(lead).isNull(), F.lit(-1)).otherwise(asc)
    else:
        band = F.when(F.col(lead).isNull(), F.lit(n + 1)).otherwise(
            F.lit(n) - asc
        )
    rp = core.withColumn("_pid", band)
    w_loc = Window.partitionBy("_pid").orderBy(*cols)
    hi = -1 if exclusive else Window.currentRow
    w_run = w_loc.rowsBetween(Window.unboundedPreceding, hi)

    local = rp.withColumn("_lrn", F.row_number().over(w_loc))
    for alias, (base, kind) in running.items():
        agg, _ = _AGGS[kind]
        local = local.withColumn(f"_lr_{alias}", agg(base).over(w_run))

    # per-band totals: ≤ bands+2 rows, broadcast at any scale.
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    for alias, (base, kind) in running.items():
        agg, _ = _AGGS[kind]
        aggs.append(agg(base).alias(f"_pt_{alias}"))
    for alias, (base, kind) in totals.items():
        agg, _ = _AGGS[kind]
        aggs.append(agg(base).alias(f"_tt_{alias}"))
    # coalesce(1): the summary is ≤ bands+2 rows, and a single partition
    # SATISFIES the offsets window's clustering requirement — Catalyst
    # then plans the window with no exchange (one fewer stage per helper
    # call; measured ~40 ms at fixture scale)
    sizes = rp.groupBy("_pid").agg(*aggs).coalesce(1)

    # running offsets over ascending _pid on the TINY summary relation.
    # Keyed by a constant expression DERIVED from _pid so Catalyst cannot
    # constant-fold the partition spec away (a plain lit(0) folds to an
    # empty spec): bounded by construction at ≤ num_partitions rows, so
    # one task is the right plan for this relation.
    w_off = (
        Window.partitionBy(F.col("_pid") - F.col("_pid"))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [
        F.col("_pid"),
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_orn"),
    ]
    for alias, (_, kind) in running.items():
        agg, _ = _AGGS[kind]
        off_cols.append(agg(f"_pt_{alias}").over(w_off).alias(f"_po_{alias}"))
    if totals:
        # grand aggregates: one more window expression over the same
        # single-partition tiny relation — full-range frame, same
        # partition spec and ordering, so Catalyst plans it inside the
        # existing WindowExec group with no extra exchange
        w_all = (
            Window.partitionBy(F.col("_pid") - F.col("_pid"))
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        for alias, (_, kind) in totals.items():
            agg, _ = _AGGS[kind]
            off_cols.append(agg(f"_tt_{alias}").over(w_all).alias(alias))
    offsets = sizes.select(*off_cols)

    out = local.join(F.broadcast(offsets), "_pid")
    result_cols = []
    if rank is not None:
        out = out.withColumn(rank, (F.col("_lrn") + F.col("_orn")).cast("long"))
        result_cols.append(rank)
    for alias, (_, kind) in running.items():
        _, combine = _AGGS[kind]
        local_c, off_c = F.col(f"_lr_{alias}"), F.col(f"_po_{alias}")
        # NULLs only at frame edges: local is NULL on a partition's first
        # row under exclusive frames; the offset is NULL for partition 0.
        out = out.withColumn(
            alias, F.coalesce(combine(local_c, off_c), local_c, off_c)
        )
        result_cols.append(alias)
    result_cols.extend(totals)  # rode in on the offsets broadcast join
    drop = ["_pid", "_lrn", "_orn"]
    drop += [f"_lr_{a}" for a in running] + [f"_po_{a}" for a in running]
    out = out.drop(*drop)

    if key is not None:
        return df.join(out.select(*key, *result_cols), key)
    return out


def ntile_from_rank(rank_col: Column, n_col: Column, buckets: int) -> Column:
    """Reproduce ``ntile(buckets)`` arithmetically from a 1-based global
    rank and the row count — integer-exact and identical to the Spark /
    DuckDB ntile convention (with q = n div buckets and r = n mod
    buckets, the first r buckets hold q+1 rows): bucket(i) = ceil(i/(q+1))
    while i ≤ r(q+1), else r + ceil((i − r(q+1))/q).  Lets a decile/
    quantile label ride the banded rank instead of a
    single-partition ntile window."""
    q = F.floor((n_col - n_col % buckets) / buckets).cast("long")
    r = (n_col % buckets).cast("long")
    t = r * (q + 1)
    return (
        F.when(rank_col <= t, F.floor((rank_col + q) / (q + 1)))
        .otherwise(r + F.floor((rank_col - t + q - 1) / q))
        .cast("int")
    )


def global_order_neighbors(
    df: DataFrame,
    order_by: OrderBy,
    *,
    key: Sequence[str] | None = None,
    lags: Mapping[str, tuple[str, int]] | None = None,
    leads: Mapping[str, tuple[str, int]] | None = None,
    frames: Mapping[str, tuple[str, str, int, int]] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """lag/lead and bounded ROWS-frame aggregates over a global (total)
    order without a single-partition WindowExec, exact for ANY offset.

    ``lags`` / ``leads``: alias → (column, k).  ``frames``: alias →
    (column, kind, lo, hi) with kind in {sum, max, min, avg, count} and a
    rows-frame [lo, hi] relative to the current row (lo ≤ 0 ≤ hi or any
    bounded pair).  ``key`` as in :func:`global_order_stats`.

    Mechanism: the banded global rank ``g`` (above) makes a
    row's frame a RANK INTERVAL, so lag(k) is an equi-join on ``g − k``
    and a bounded frame is an explode of the (hi−lo+1) relative offsets
    joined on the shifted rank and re-aggregated — shuffles keyed by the
    dense rank, never a single-partition exchange, and immune to the
    sparse-partition hazard a ghost-row shift has (a neighbor more than
    one band away is still one rank away).  Frame aggregates
    combine hash-aggregate-style; integer inputs are exact, double
    inputs carry the usual ±1 ulp association caveat vs a sequential
    window evaluation.
    """
    lags = dict(lags or {})
    leads = dict(leads or {})
    frames = dict(frames or {})
    if not (lags or leads or frames):
        raise ValueError("need at least one of lags=/leads=/frames=")
    for alias, (_, kind, lo, hi) in frames.items():
        if kind not in ("sum", "max", "min", "avg", "count"):
            raise ValueError(f"unknown frame kind {kind!r} for {alias!r}")
        if lo > hi:
            raise ValueError(f"frame lo > hi for {alias!r}")

    ranked = global_order_stats(
        df, order_by, rank="_g", key=key, num_partitions=num_partitions
    )
    out = ranked
    for alias, (col, k) in lags.items():
        nb = ranked.select(
            (F.col("_g") + k).alias("_g"), F.col(col).alias(alias)
        )
        out = out.join(nb, "_g", "left")
    for alias, (col, k) in leads.items():
        nb = ranked.select(
            (F.col("_g") - k).alias("_g"), F.col(col).alias(alias)
        )
        out = out.join(nb, "_g", "left")
    if frames:
        lo_all = min(lo for (_, _, lo, _) in frames.values())
        hi_all = max(hi for (_, _, _, hi) in frames.values())
        fan = ranked.select(
            "_g", F.explode(F.sequence(F.lit(lo_all), F.lit(hi_all))).alias("_o")
        ).select((F.col("_g") + F.col("_o")).alias("_gn"), "_g", "_o")
        cols_needed = {col for (col, _, _, _) in frames.values()}
        nb = ranked.select(F.col("_g").alias("_gn"), *sorted(cols_needed))
        joined = fan.join(nb, "_gn")
        aggs = []
        for alias, (col, kind, lo, hi) in frames.items():
            in_frame = (F.col("_o") >= lo) & (F.col("_o") <= hi)
            agg_fn = {
                "sum": F.sum,
                "max": F.max,
                "min": F.min,
                "avg": F.avg,
                "count": F.count,
            }[kind]
            aggs.append(agg_fn(F.when(in_frame, F.col(col))).alias(alias))
        frame_vals = joined.groupBy("_g").agg(*aggs)
        out = out.join(frame_vals, "_g", "left")
        # a row whose frame is entirely out of range (e.g. frame
        # (-3, -1) on the first row) has NO fan rows at all, so the left
        # join yields NULL — but window COUNT over an empty frame is 0,
        # never NULL.  sum/max/min/avg stay NULL (matching window
        # semantics over an empty frame).
        for alias, (_, kind, _, _) in frames.items():
            if kind == "count":
                out = out.withColumn(
                    alias, F.coalesce(F.col(alias), F.lit(0))
                )
    return out.drop("_g")
