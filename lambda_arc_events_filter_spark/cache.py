"""Bounded driver-side session caches.

Every artifact a query builds once per session and probes many times
lives in ONE store, reached through ``session_artifact``: the corpus
indexes (tf/lexicon/totals, shingle postings, MinHash signatures, IVF and
IVF-PQ, SemDeDup) and the layout jobs' output paths (partitioned,
bucketed, sorted, Z-ordered, ... copies of a fixture table).  The store
maps ``(applicationId, sf_dir)`` to a group ``{name: value}``:

- **One bound.**  At most ``_ARTIFACT_GROUPS`` groups, oldest insertion
  evicted first (``bounded_put``).  Keys include the application id, so a
  dead session's entries are never served; the bound keeps a long-lived
  driver iterating over many datasets from accumulating references
  without limit.
- **Whole-group eviction.**  An evicted group drops all its artifacts at
  once, together with every prepared plan of the same
  ``(applicationId, sf_dir)`` (``release_plans_for``): a cached plan holds
  its index's ``LogicalRDD``, so it must not outlive the index.
- **Blessing by value type.**  A DataFrame value, or each DataFrame in a
  tuple value, is marked session-resident (``bless_resident``) so the
  prepared plans of its consumers may be cached; path values are stored
  as they are.

Eviction only drops the driver-side reference: executor-side blocks
(localCheckpoint RDDs) are released by the ContextCleaner once the
DataFrame is unreachable, and evicted paths are scratch dirs cleaned at
exit.  The other bounded caches here are the band-boundary probes
(``band_bounds``) and the resident-RDD blessings; the prepared-plan cache
itself lives in the registry.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

K = TypeVar("K")
V = TypeVar("V")


def bounded_put(
    cache: dict[K, V],
    key: K,
    value: V,
    max_entries: int,
    on_evict: Callable[[K], None] | None = None,
) -> V:
    """Insert ``key → value``, evicting oldest insertions to stay under
    ``max_entries`` (dicts preserve insertion order).  ``on_evict`` runs
    for each evicted KEY — index caches use it to release dependent
    prepared plans (see ``release_plans_for``)."""
    while len(cache) >= max_entries:
        evicted = next(iter(cache))
        cache.pop(evicted)
        if on_evict is not None:
            on_evict(evicted)
    cache[key] = value
    return value


#: Plan caches registered for coupled eviction: when a session INDEX is
#: evicted from the artifact store, every prepared plan built against
#: it must be dropped too — a cached JVM logical plan holds a strong
#: reference to the index's LogicalRDD, and without this coupling the
#: plan cache (bound 1024) would pin the executor blocks of indexes long
#: after the artifact store (bound 4) let go (round-8 review finding).
#: Entries are dicts keyed by (applicationId, sf_dir, ...) tuples.
PLAN_CACHE_SINKS: list[dict] = []


def release_plans_for(evicted_key) -> None:
    """Drop every registered prepared plan whose key starts with the
    evicted artifact group's (applicationId, sf_dir) prefix.

    Deliberately coarse: plans over still-live indexes (and plans with no
    RDD dependency) of the same sf_dir are invalidated too, each paying
    one ~0.2 s re-preparation on its next call.  The safe direction —
    under-caching — is chosen over per-plan dependency tracking because
    index eviction only happens when a session cycles more sf_dirs than
    the group bound (4), a maintenance pattern, not a serving one."""
    if not (isinstance(evicted_key, tuple) and len(evicted_key) >= 2):
        return
    prefix = evicted_key[:2]
    for sink in PLAN_CACHE_SINKS:
        for k in [k for k in sink if k[:2] == prefix]:
            sink.pop(k, None)


#: Session-RESIDENT materializations (corpus indexes: the tf index, the
#: shingle postings, the IVF index), as (applicationId, rdd id) pairs.
#: The prepared-plan cache may only cache a plan whose RDD scans all
#: appear here FOR THE CURRENT APPLICATION: a resident index is the
#: engine's architecture (build once per session, probe many times —
#: reuse is the point), while any OTHER checkpointed RDD in a query plan
#: is a query-private intermediate whose reuse across executions is
#: result caching and fakes the benchmark (see registry.register).  The
#: applicationId in the key matters: RDD ids restart at 0 with every new
#: SparkContext, so a bare-id set would let a stale blessing from a
#: stopped session admit a new session's private checkpoint (round-8
#: review finding).  Insertion-ordered dict → FIFO trim of the OLDEST
#: blessings only (a live index re-blesses nothing, but FIFO can at
#: worst demote an old index's consumers to uncached — never admit a
#: private RDD).
RESIDENT_RDD_IDS: dict[tuple[str, int], None] = {}
_RESIDENT_MAX = 4096


def _iter_plans(jplan):
    """The plan plus every subquery plan nested in its expressions —
    ``collectLeaves`` alone does not descend into IN/EXISTS/scalar
    subqueries, which would hide a LogicalRDD from the guard.  Raises if
    the subquery API is unavailable: a caller deciding CACHEABILITY must
    fail CLOSED (an unseen subquery RDD would be silently admitted —
    fewer visible ids makes the blessing check MORE permissive)."""
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


def is_blessed(app_id: str, rdd_ids: list[int]) -> bool:
    """True iff every id is a blessed session-resident RDD of THIS app."""
    return all((app_id, r) in RESIDENT_RDD_IDS for r in rdd_ids)


def bless_resident(df):
    """Mark every RDD scan in ``df``'s plan as session-resident (an index
    whose cross-execution reuse is intended).  Returns ``df`` so builders
    can wrap their ``localCheckpoint()`` call site.  No-op on sessions
    without JVM access (Connect mode)."""
    try:
        app = df.sparkSession.sparkContext.applicationId
        ids = rdd_scan_ids(df._jdf.queryExecution().logical())
    except Exception:
        return df
    for r in ids:
        bounded_put(RESIDENT_RDD_IDS, (app, r), None, _RESIDENT_MAX)
    return df


#: (applicationId, sf_dir) → {artifact name: value}; see the module
#: docstring.  A serving session probes one or two datasets; cycling
#: through more than 4 is a maintenance pattern (see release_plans_for).
_ARTIFACTS: dict[tuple[str, str], dict[str, Any]] = {}
_ARTIFACT_GROUPS = 4


def session_artifact(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """The session's ``name`` artifact for ``sf_dir``: built by ``build()``
    on the first call, served from the store after that.  DataFrames in
    the value are blessed as session-resident indexes.  ``build`` may
    itself call ``session_artifact`` for the same ``sf_dir``."""
    key = (spark.sparkContext.applicationId, sf_dir)
    group = _ARTIFACTS.get(key)
    if group is None:
        group = bounded_put(
            _ARTIFACTS, key, {}, _ARTIFACT_GROUPS, on_evict=release_plans_for
        )
    if name not in group:
        value = build()
        for part in value if isinstance(value, tuple) else (value,):
            if isinstance(part, DataFrame):
                bless_resident(part)
        group[name] = value
    return group[name]


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
