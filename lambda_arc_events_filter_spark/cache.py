"""Bounded driver-side session caches.

Everything one application keeps for one dataset lives in ONE group,
reached through ``session_group(applicationId, sf_dir)``:

- ``artifacts``: what a query builds once per session and probes many
  times (``session_artifact``) — the corpus indexes (tf/lexicon/totals,
  shingle postings, MinHash signatures, IVF and IVF-PQ, SemDeDup) and
  the layout jobs' output paths (partitioned, bucketed, sorted,
  Z-ordered, ... copies of a fixture table);
- ``resident``: the RDD ids of the DataFrame artifacts, recorded when
  each is built.  The registry caches a prepared plan only if every RDD
  it scans is in this set: a resident index is the engine's architecture
  (build once, probe many times), while any other checkpointed RDD in a
  plan is a query-private intermediate whose reuse across executions
  would be result caching (see ``registry._with_plan_cache``);
- ``plans``: query name → prepared (optimized) JVM logical plan;
- ``relations``: table → the scan DataFrame ``catalog.load`` resolves.

The store holds at most ``_MAX_GROUPS`` groups, oldest insertion evicted
first (``bounded_put``).  Keys include the application id, so a dead
session's entries are never served (RDD ids restart at 0 with every
SparkContext); the bound keeps a long-lived driver iterating over many
datasets from accumulating references without limit.  An evicted group
takes its plans with it, so no cached plan outlives the index whose
``LogicalRDD`` it holds.

Eviction only drops the driver-side reference: executor-side blocks
(localCheckpoint RDDs) are released by the ContextCleaner once the
DataFrame is unreachable.  Layout paths are scratch dirs under the
process's scratch root (``readers.scratch_dir``): an evicted path stays
on disk until the interpreter exits and the root is removed.  The other
bounded cache here holds the band-boundary probes (``band_bounds``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

K = TypeVar("K")
V = TypeVar("V")


def bounded_put(cache: dict[K, V], key: K, value: V, max_entries: int) -> V:
    """Insert ``key → value``, evicting oldest insertions to stay under
    ``max_entries`` (dicts preserve insertion order)."""
    while len(cache) >= max_entries:
        cache.pop(next(iter(cache)))
    cache[key] = value
    return value


def _iter_plans(jplan):
    """The plan plus every subquery plan nested in its expressions —
    ``collectLeaves`` alone does not descend into IN/EXISTS/scalar
    subqueries, which would hide a LogicalRDD from the guard.  Raises if
    the subquery API is unavailable: a caller deciding CACHEABILITY must
    fail CLOSED (an unseen subquery RDD would be silently admitted —
    fewer visible ids makes the resident check MORE permissive)."""
    yield jplan
    subs = jplan.subqueriesAll()
    for i in range(subs.size()):
        yield subs.apply(i)


def rdd_scan_ids(jplan) -> list[int]:
    """RDD ids of every ``LogicalRDD`` leaf in a JVM logical plan,
    including plans nested inside subquery expressions.  Raises when the
    plan cannot be fully enumerated — callers must treat that as
    'unknown scans present', never as 'no scans'."""
    out: list[int] = []
    for plan in _iter_plans(jplan):
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                out.append(leaf.rdd().id())
    return out


def has_unresolved_relations(jplan) -> bool:
    """True when any leaf is an UnresolvedRelation — a by-NAME reference
    (temp view, catalog table) whose target is global mutable state.  A
    cached raw plan re-resolves names per execution, so a fixed-name view
    re-registered for a different dataset would silently swap the data
    under a prepared plan, and a dropped per-call view leaves the cached
    plan permanently unexecutable; such plans are never cached."""
    for plan in _iter_plans(jplan):
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).getClass().getSimpleName() == "UnresolvedRelation":
                return True
    return False


@dataclass(eq=False)
class SessionGroup:
    """What one application keeps for one dataset; see the module
    docstring."""

    artifacts: dict[str, Any] = field(default_factory=dict)
    resident: set[int] = field(default_factory=set)
    plans: dict[str, Any] = field(default_factory=dict)
    relations: dict[str, DataFrame] = field(default_factory=dict)


#: (applicationId, sf_dir) → SessionGroup.  A serving session probes one
#: or two datasets; cycling through more than 4 is a maintenance pattern.
_GROUPS: dict[tuple[str, str], SessionGroup] = {}
_MAX_GROUPS = 4


def session_group(app_id: str, sf_dir: str) -> SessionGroup:
    """The group of ``(app_id, sf_dir)``, created (and the oldest group
    evicted past the bound) on first use."""
    key = (app_id, sf_dir)
    group = _GROUPS.get(key)
    if group is None:
        group = bounded_put(_GROUPS, key, SessionGroup(), _MAX_GROUPS)
    return group


def session_artifact(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """The session's ``name`` artifact for ``sf_dir``: built by ``build()``
    on the first call, served from the group after that.  The RDD scans
    of a DataFrame value, or of each DataFrame in a tuple value, join the
    group's ``resident`` set; path values are stored as they are.
    ``build`` may itself call ``session_artifact`` for the same
    ``sf_dir``."""
    group = session_group(spark.sparkContext.applicationId, sf_dir)
    if name not in group.artifacts:
        value = build()
        for part in value if isinstance(value, tuple) else (value,):
            if isinstance(part, DataFrame):
                try:
                    group.resident.update(
                        rdd_scan_ids(part._jdf.queryExecution().logical())
                    )
                except Exception:  # no JVM access (Connect mode)
                    pass
        group.artifacts[name] = value
    return group.artifacts[name]


#: (applicationId, input-plan semanticHash, column, n_bands) → sorted
#: band boundaries of the banded rank/percentile plans (functions/rank.py,
#: functions/stats.py).  The boundary probe is one approxQuantile job at
#: plan-construction time; its output only steers band BALANCE, never
#: correctness (any fixed cut points are order-consistent), so serving a
#: cached — even colliding — entry is always safe.  Build-once/probe-many
#: callers (agg_stats, the histogram/PSI family) skip the probe on every
#: call after the first.
_BAND_BOUNDS: dict[tuple[str, int, str, int], list[float]] = {}
_BAND_BOUNDS_MAX = 64


def band_bounds(
    key: tuple[str, int, str, int], probe: Callable[[], list[float]]
) -> list[float]:
    """Cached band boundaries for ``key``; ``probe()`` runs on a miss."""
    bounds = _BAND_BOUNDS.get(key)
    if bounds is None:
        bounds = bounded_put(_BAND_BOUNDS, key, probe(), _BAND_BOUNDS_MAX)
    return bounds
