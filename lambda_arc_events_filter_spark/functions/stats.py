"""Distributed statistical helpers.

``group_percentile_cont`` replaces Spark's builtin exact ``percentile``
UDAF for large groups: the builtin buffers EVERY group value in a single
aggregation buffer (OpenHashMap per group) — a driver-of-OOM at 100 TB and
~7s on a 600k-row group locally.

Implementation is a RANGE-PARTITIONED distributed rank, not a
group-partitioned window: ``Window.partitionBy(group)`` puts each group in
ONE task (three return flags → three tasks sorting 200k rows each; a 10B-row
group at 100 TB → one task, i.e. a scalability cliff).  Instead:

1. ``repartitionByRange(P, keys..., value)`` — the engine's range
   partitioner splits every group across P partitions in sorted order.
2. local rank per (physical partition, group) — a window keyed on
   ``spark_partition_id()``, so P partitions sort in parallel.
3. global rank = local rank + offset, where offsets are a running sum over
   the tiny (partition, group, count) relation — |P|·|groups| rows.
4. the two straddling ranks per quantile come from a BROADCAST join of the
   per-group target ranks (derived from group counts) into the ranked
   relation — the big side never reshuffles.

The interpolation is the standard PERCENTILE_CONT formula — identical to
DuckDB ``quantile_cont`` and Spark ``percentile``:
    p = 1 + q·(n-1);  v = v_floor(p) + (p - floor(p))·(v_ceil(p) - v_floor(p))
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from lambda_arc_events_filter_spark.cache import band_bounds

#: internal column names the banded-rank plan materializes on the fact
#: relation (plus ``_rn``/``_n`` from the ``group`` strategy).  Input
#: columns and caller aliases must not collide — validated up front.
_RESERVED_NAMES = frozenset(
    {
        "_vd", "_band", "_cnt", "_gid", "_n", "_off", "_lr", "_rank",
        "_lo", "_hi", "_frac", "_v", "_v_lo", "_v_hi", "q_alias", "_rn",
    }
)


def _join_null_safe(
    left: DataFrame, right: DataFrame, cols: Sequence[str], broadcast: bool = False
) -> DataFrame:
    """Inner join on ``cols`` with NULL-safe key equality (``<=>``).

    A plain ``df.join(other, cols)`` drops rows whose key contains NULL —
    which would make the ``range`` strategy silently lose NULL-key groups
    that the ``group`` strategy (a window, no join) keeps.  Key columns are
    emitted once, from the left side.
    """
    l, r = left.alias("_l"), right.alias("_r")
    if broadcast:
        r = F.broadcast(r)
    cond = None
    for c in cols:
        e = F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}"))
        cond = e if cond is None else cond & e
    out = l.join(r, cond)
    for c in cols:
        out = out.drop(F.col(f"_r.{c}"))
    return out


def group_percentile_cont(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    quantiles: dict[str, float],
    extra_aggs: Sequence[Column] = (),
    num_partitions: int | None = None,
    strategy: str = "range",
    materialize: bool = False,
) -> DataFrame:
    """Exact interpolated per-group quantiles.

    Returns one row per key combination with one column per entry of
    ``quantiles`` (alias → q), plus any ``extra_aggs`` computed in a
    parallel aggregation pass.  NULL values in ``value_col`` are excluded
    (matching both the builtin percentile and DuckDB quantile_cont).

    ``extra_aggs`` run in their own plain ``groupBy(keys)`` pass over the
    non-null rows (r13; previously they rode a GROUPING SETS fusion that
    also evaluated-and-discarded them per band — see the in-body History
    note for why that fusion never actually shared work at runtime).

    ``strategy`` picks between two exact plans with identical output —
    pytest asserts their equality:

    - ``group``: one window partitioned by the group key.  Each group
      sorts in ONE task — fine while a group fits a task's sort budget,
      a cliff when it doesn't.
    - ``range``: range-partitioned global rank (below).  The 100 TB
      posture — a group never meets a single task, so there is no
      per-group cliff — and, as of the round-4 re-measurement, ALSO the
      faster plan at sf0.1 (agg_stats 0.60 → 0.47 s, equi-depth
      histogram 0.33 → 0.16 s, PSI 0.63 → 0.38 s: per-group sorting
      capped parallelism at |groups| tasks, which the range plan's extra
      stage constants now more than pay for).  ``range`` is therefore
      the DEFAULT (the cluster-sane-default polarity, like session.py's
      scan sizing); ``group`` remains selectable for tiny-relation
      callers.

    ``materialize`` (range strategy only): localCheckpoint the
    |groups|·|bands|-row ``sizes`` aggregate, so its consumers (the
    offsets/targets window branches) read an executor-local relation
    instead of re-reducing the shared shuffle output.  Since the r13 restructure the
    fact pass behind ``sizes`` is shuffled once and REUSED even without
    it (plain aggregate — nothing for filter pushdown to specialize), so
    the lever only trims the small reduce-side re-aggregations; it stays
    off by default (the checkpoint barrier serializes stages that
    otherwise run concurrently, and an embedded checkpoint disqualifies
    the caller from the prepared-plan cache: the registry keeps plans
    over query-private RDDs out on its own, since a cached plan would
    pin the checkpointed RDD — result caching, not benchmarking).
    """
    spark = df.sparkSession
    if strategy not in ("group", "range"):
        raise ValueError(f"unknown percentile strategy {strategy!r}")
    keys = list(keys)
    clashes = _RESERVED_NAMES.intersection(df.columns).union(
        _RESERVED_NAMES.intersection(quantiles)
    )
    if clashes:
        raise ValueError(
            "group_percentile_cont: input column / quantile alias collides "
            f"with reserved internal names: {sorted(clashes)}"
        )
    if extra_aggs:
        # resolve the extra aliases from the analyzed schema (no job runs)
        # and refuse EVERY collision class up front, for both strategies:
        # a reserved internal name would be silently dropped with the
        # internal column, a key/quantile alias would shadow or vanish in
        # the final select, and a duplicate alias is ambiguous (ADVICE r7).
        extra_alias = df.limit(0).agg(*extra_aggs).columns
        bad = set(extra_alias) & (_RESERVED_NAMES | set(quantiles) | set(keys))
        if bad or len(set(extra_alias)) != len(extra_alias):
            dupes = sorted(
                {a for a in extra_alias if extra_alias.count(a) > 1}
            )
            raise ValueError(
                "group_percentile_cont: extra_aggs alias collides with a "
                "reserved internal name, key, quantile alias, or another "
                f"extra_aggs alias: {sorted(bad) + dupes}"
            )
    nn = df.filter(F.col(value_col).isNotNull())

    if strategy == "group":
        w_rank = Window.partitionBy(*keys).orderBy(value_col)
        w_all = Window.partitionBy(*keys)
        ranked_g = nn.select(
            "*",
            F.row_number().over(w_rank).alias("_rn"),
            F.count(F.lit(1)).over(w_all).alias("_n"),
        )
        aggs: list[Column] = []
        for alias, q in quantiles.items():
            p = F.lit(1.0) + (F.col("_n") - F.lit(1)) * F.lit(q)
            lo, hi = F.floor(p), F.ceil(p)
            v_lo = F.max(F.when(F.col("_rn") == lo, F.col(value_col)))
            v_hi = F.max(F.when(F.col("_rn") == hi, F.col(value_col)))
            frac = F.max(p - lo)
            aggs.append((v_lo + frac * (v_hi - v_lo)).alias(alias))
        return ranked_g.groupBy(*keys).agg(*aggs, *extra_aggs)

    if num_partitions is None:
        num_partitions = min(32, spark.sparkContext.defaultParallelism)

    # the banded plan evaluates ``nn`` several times (boundary probe, base
    # aggregates, band window, band sizes) — cheap for a pruned scan chain,
    # not for a derived input (PSI feeds a window-derived half-split here);
    # materialize derived inputs once (see functions/rank.py)
    from lambda_arc_events_filter_spark.functions.rank import (
        _materialize_if_derived,
    )

    # bounds-cache key BEFORE materialization: a localCheckpoint gets a
    # fresh plan id per call, but the pre-materialization analyzed plan
    # of a scan-chain input is call-stable.
    bounds_key = (
        spark.sparkContext.applicationId,
        nn.semanticHash(),
        value_col,
        num_partitions,
    )
    nn = _materialize_if_derived(nn)

    # VALUE-BANDED global rank, ONE shuffle.  The obvious plan —
    # ``repartitionByRange`` + a window keyed on ``spark_partition_id()`` —
    # secretly shuffles the fact relation TWICE: Catalyst cannot prove that
    # range partitioning satisfies the window's ClusteredDistribution(_pid),
    # so it stacks ``Exchange hashpartitioning(_pid, keys)`` on top of
    # ``Exchange rangepartitioning`` (read off the executed plan, round 4).
    # Instead: cut the value domain into ~``num_partitions`` bands at
    # sampled quantile boundaries, baked into the plan as a codegen'd
    # comparison chain.  Any fixed boundary is order-consistent (every row
    # with value ≤ b sorts before every row with value > b, per group), so
    # band-local rank + per-(group, band) offsets equals the global
    # per-group rank exactly — same semantics as the range partitioner
    # (which likewise cannot split ties), at HALF the shuffle volume.  The
    # boundary probe is one approxQuantile job (GK sketch, driver gets
    # ~P doubles, accuracy only affects band balance, never correctness)
    # that runs at plan-CONSTRUCTION time — build-once/probe-many callers
    # and the plan cache pay it once, like a broadcast build.  Bounds are
    # additionally session-cached per (app, input plan, column, P) in
    # ``cache.band_bounds`` — repeat calls skip the probe job entirely (and
    # a stale/colliding entry is still correct: bounds steer balance, not
    # semantics).
    bounds = band_bounds(
        bounds_key,
        lambda: sorted(
            {
                b
                for b in nn.select(
                    F.col(value_col).cast("double").alias("_v")
                ).stat.approxQuantile(
                    "_v",
                    [i / num_partitions for i in range(1, num_partitions)],
                    0.01,
                )
                if b == b  # drop NaN boundaries (all-NaN / empty columns),
                # matching the sibling guard in functions/rank.py — a NaN
                # bound makes sorted(set(...)) order-unstable and the CASE
                # chain non-monotone
            }
        ),
    )
    band: Column = F.lit(len(bounds))
    for i, b in reversed(list(enumerate(bounds))):
        band = F.when(F.col("_vd") <= F.lit(b), i).otherwise(band)
    # cast once in a projection — a per-``when`` cast re-evaluates for
    # every branch when the chain falls out of whole-stage codegen
    bd = (
        nn.withColumn("_vd", F.col(value_col).cast("double"))
        .withColumn("_band", band)
        .drop("_vd")
    )

    # ONE plain per-(group, band) count aggregate over the fact; the
    # per-group total ``_n`` rides the SAME tiny relation as one more
    # window expression (full-frame sum over the group — same partition
    # and order spec as the offsets window, so no extra pass), and
    # ``extra_aggs`` run in their own plain ``groupBy(keys)`` pass — no
    # GROUPING SETS, no Expand, no ``_gid``.
    #
    # History (r13): rounds 4-12 fused both granularities through
    # GROUPING SETS ((keys), (keys, band)) on the theory that one Expand
    # pass feeds every consumer.  The executed plan disproves it: Catalyst
    # pushes each consumer's ``_gid`` filter BELOW the aggregate's
    # exchange (a grouping-key filter prunes Expand projections), so the
    # "shared" fused aggregate specialized into 2-3 SEPARATE fact passes —
    # each with Expand's 2× row fanout — and ReuseExchange matched none of
    # them (read off agg_stats' executedPlan, plans/r13).  The plain
    # shape has nothing to specialize: every consumer of ``sizes`` needs
    # the identical (keys, band, count) subtree, so the fact pass is
    # shuffled once and REUSED (pinned by tests/test_plans.py), the
    # extras pass carries no discarded per-band copies of its (heavier)
    # stat buffers, and with no extras the whole query is ONE fact
    # aggregation + the hit-band rank pass.  Fact aggregation passes:
    # 3 → 2 with extras, 2 → 1 without — at ANY scale; the 100 TB win is
    # a full input pass.  A first r13 cut derived ``_n`` as a second
    # aggregate OVER ``sizes`` instead: same pass count, but it put one
    # extra reduce stage on the critical path that gates the hit-band
    # fact sort (targets → hit_bands → bd_hit) and measured ~15% SLOWER
    # at sf0.1 — the window form adds no stage.
    sizes = bd.groupBy(*keys, "_band").agg(F.count(F.lit(1)).alias("_cnt"))
    if materialize:
        sizes = sizes.localCheckpoint(eager=True)
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("_band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_grp = (
        Window.partitionBy(*keys)
        .orderBy("_band")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = (
        sizes.withColumn("_off", F.sum("_cnt").over(w_off) - F.col("_cnt"))
        .withColumn("_n", F.sum("_cnt").over(w_grp))
        .select("_band", *keys, "_cnt", "_off", "_n")
    )

    # per-(band, quantile) straddling target ranks, computed INLINE on
    # the offsets rows (every band row of a group carries _n, so lo/hi/
    # frac need no join back to a per-group relation — the r12 shape
    # joined a separate targets relation into offsets here, one more
    # stage on the same critical path).
    target_cols = []
    for alias, q in quantiles.items():
        p = F.lit(1.0) + (F.col("_n") - F.lit(1)) * F.lit(q)
        target_cols.append(
            F.struct(
                F.lit(alias).alias("q_alias"),
                F.floor(p).cast("long").alias("_lo"),
                F.ceil(p).cast("long").alias("_hi"),
                (p - F.floor(p)).alias("_frac"),
            )
        )
    tq = offsets.select(
        *keys, "_band", "_cnt", "_off",
        F.explode(F.array(*target_cols)).alias("t"),
    ).select(*keys, "_band", "_cnt", "_off", "t.*")
    # one row per (group, quantile): lo/hi/frac are identical on every
    # band row of a group (computed from the same _n), so any row stands
    targets = tq.select(*keys, "q_alias", "_lo", "_hi", "_frac").dropDuplicates(
        [*keys, "q_alias"]
    )

    # TARGETED SELECTION: only bands that CONTAIN a straddling rank ever
    # get sorted.  The band holding global rank t per group is read off
    # the tiny offsets relation (_off < t ≤ _off + _cnt), so the fact
    # relation is filtered to the hit bands BEFORE the rank window —
    # per-band local ranks are unchanged because whole bands survive.
    # With Q quantiles and G groups at most 2·Q·G bands sort, each
    # ~1/num_partitions of its group: at scale the sorted fraction
    # shrinks as bands are added, instead of sorting the entire relation.
    in_band = lambda t: (F.col(t) > F.col("_off")) & (  # noqa: E731
        F.col(t) <= F.col("_off") + F.col("_cnt")
    )
    # The remaining offsets join (ranked, below) carries NO broadcast
    # hint (ADVICE r7): offsets is |bands|·|groups| rows and grows with
    # group cardinality, and a forced F.broadcast builds regardless of
    # size.  The static planner's size estimate (or AQE's runtime
    # conversion on a cluster) picks broadcast while the relation is
    # genuinely small and falls back to a shuffle join when it is not.
    # An alternative shape that threads _off through hit_bands to skip
    # that join entirely was measured and LOSES (1.34 vs 1.02 s
    # prepared, round 8).
    hit_bands = (
        tq.filter(in_band("_lo") | in_band("_hi"))
        .select("_band", *keys)
        .dropDuplicates(["_band", *keys])
    )
    bd_hit = _join_null_safe(bd, hit_bands, ["_band", *keys], broadcast=True)
    w_local = Window.partitionBy("_band", *keys).orderBy(value_col)
    ranked = _join_null_safe(
        bd_hit.withColumn("_lr", F.row_number().over(w_local)),
        offsets.select("_band", *keys, "_off"),
        ["_band", *keys],
    ).withColumn("_rank", F.col("_lr") + F.col("_off"))

    # broadcast the targets into the ranked relation: only the rows AT a
    # straddling rank survive the join — the big side never reshuffles
    hits = _join_null_safe(ranked, targets, keys, broadcast=True).filter(
        (F.col("_rank") == F.col("_lo")) | (F.col("_rank") == F.col("_hi"))
    )
    # ONE pivot aggregation straight off the hit rows: per (group, alias)
    # cell, v_lo/v_hi are conditional maxes and _frac is constant within
    # the cell, so the interpolation folds into the pivot itself — the
    # former separate per-(group, q) aggregate + pivot pair cost one
    # extra exchange for nothing.
    aliases = list(quantiles)
    v_lo = F.max(F.when(F.col("_rank") == F.col("_lo"), F.col(value_col)))
    v_hi = F.max(F.when(F.col("_rank") == F.col("_hi"), F.col(value_col)))
    wide = (
        hits.groupBy(*keys)
        .pivot("q_alias", aliases)
        .agg((v_lo + F.max("_frac") * (v_hi - v_lo)).alias("_v"))
    )
    # ``wide`` is |groups|·|quantiles| cells; like the offsets join it is
    # left unhinted — the planner's size estimate picks broadcast while
    # the group count is small and a shuffle join when it is not.
    #
    # Without extras, ``wide`` IS the result: its group set is exactly
    # the groups with ≥1 non-null value (every such group's quantile
    # ranks land in some band), so the old base⋈wide join — whose base
    # side cost its own fact aggregation — carried no information.
    if not extra_aggs:
        return wide
    extras = nn.groupBy(*keys).agg(*extra_aggs)
    extra_names = [c for c in extras.columns if c not in keys]
    if len(extra_names) != len(extra_aggs):
        # unreachable after the upfront alias validation — pure invariant
        # guard against a future drift between the two name lists
        raise AssertionError(
            "group_percentile_cont: internal extra_aggs name accounting "
            "drifted from the upfront alias validation"
        )
    return _join_null_safe(
        extras.select(*keys, *extra_names), wide, keys
    )
