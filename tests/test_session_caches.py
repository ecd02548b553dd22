"""Session-cache invariants: the per-(application, sf_dir) session group
behind the corpus indexes and layout paths (postings, tf/lexicon, IVF,
written copies), their resident RDD ids, the prepared plans and the
resolved scans, and the band-bounds cache, must be build-once per group
and FIFO-bounded — an unbounded cache is a driver leak on a long-lived
session, and a cache that misses on repeat calls silently re-runs the
index build it exists to amortize."""

from __future__ import annotations

from lambda_arc_events_filter_spark import cache as C
from lambda_arc_events_filter_spark.cache import bounded_put


def _plans(spark, sf_dir) -> dict:
    """Prepared plans of the (application, sf_dir) group, without
    creating the group."""
    group = C._GROUPS.get((spark.sparkContext.applicationId, sf_dir))
    return {} if group is None else group.plans


def test_bounded_put_evicts_oldest_insertion():
    c: dict[str, int] = {}
    for i, k in enumerate("abcd"):
        bounded_put(c, k, i, 3)
    assert list(c) == ["b", "c", "d"]
    bounded_put(c, "b", 99, 3)  # re-insert moves to newest
    assert c["b"] == 99 and len(c) == 3


def test_tf_index_and_lexicon_build_once(spark, sf_dir):
    from lambda_arc_events_filter_spark.queries import text_index as TI

    tf1 = TI.tf_index(spark, sf_dir)
    tf2 = TI.tf_index(spark, sf_dir)
    assert tf1 is tf2, "second call must serve the cached index"
    v1 = TI.vocab_stats(spark, sf_dir)
    assert TI.vocab_stats(spark, sf_dir) is v1
    t1 = TI.corpus_totals(spark, sf_dir)
    assert TI.corpus_totals(spark, sf_dir) is t1
    # the artifacts agree with each other: Σ lexicon cf == totals n_tokens
    import pyspark.sql.functions as F

    n_tokens = t1.collect()[0]["n_tokens"]
    assert v1.agg(F.sum("cf")).collect()[0][0] == n_tokens
    assert tf1.agg(F.sum("tf")).collect()[0][0] == n_tokens


def test_postings_index_build_once(spark, sf_dir):
    from lambda_arc_events_filter_spark.queries.llm_q import _postings_index

    assert _postings_index(spark, sf_dir) is _postings_index(spark, sf_dir)


def test_plan_cache_refuses_unblessed_rdd_scans(spark, sf_dir):
    """The prepared-plan cache must never cache a plan whose RDD scans
    are query-private materializations (localCheckpoint inside fn,
    driver-computed createDataFrame) — caching one pins its blocks across
    executions and turns the prepared-statement protocol into result
    caching.  Resident session indexes (text_index, IVF) remain
    cacheable (round-8 guard)."""
    from lambda_arc_events_filter_spark import registry as R

    all_specs = R.specs()

    # query-private checkpoint (the rank helper's derived-input
    # materialization inside lorenz): never cached
    all_specs["customer_lorenz_curve"].fn(spark, sf_dir)
    assert "customer_lorenz_curve" not in _plans(spark, sf_dir)

    # pareto dropped its private checkpoint in round 8 (concurrent
    # diamond) — fully declarative again, so the prepared plan IS cached
    all_specs["lineitem_pareto_abc"].fn(spark, sf_dir)
    assert "lineitem_pareto_abc" in _plans(spark, sf_dir)

    # driver-computed input data: never cached
    all_specs["events_raking_ipf"].fn(spark, sf_dir)
    assert "events_raking_ipf" not in _plans(spark, sf_dir)

    # resident tf index: prepared plan IS cached
    all_specs["text_tfidf_top_terms"].fn(spark, sf_dir)
    assert "text_tfidf_top_terms" in _plans(spark, sf_dir)

    # plain scan-chain query: cached as before
    all_specs["agg_stats"].fn(spark, sf_dir)
    assert "agg_stats" in _plans(spark, sf_dir)


#: The queries that used to opt out of the prepared-plan cache by a
#: registration flag and carry no streaming/source/sink tag.  The guard alone decides.
_DECLARATIVE_FORMERLY_FLAGGED = (
    "tokens_heavy_hitters_mg",
    "text_compressibility_filter",
)
_PRIVATE_FORMERLY_FLAGGED = (
    "text_textrank_keywords",
    "users_geo_dbscan_clusters",
    "sql_scripting_iterative",
    "sql_recursive_bfs",
    "parts_bradley_terry_strength",
    "dedup_minhash_lsh_capped",
    "dedup_minhash_incremental",
    "ann_ivf_incremental_refresh",
    "hierarchy_doc_rollup",
    "dedup_connected_components",
    "dedup_cluster_representatives",
)


def test_formerly_flagged_queries_follow_the_guard(spark, sf_dir):
    """Without the per-registration opt-out, the guard keeps out exactly
    the plans it should: the two fully declarative queries are cached,
    and the eleven that scan a query-private RDD (or, for
    ``sql_recursive_bfs``, resolve a view by name) are not."""
    from lambda_arc_events_filter_spark import registry as R

    sp = R.specs()
    for name in _DECLARATIVE_FORMERLY_FLAGGED + _PRIVATE_FORMERLY_FLAGGED:
        assert not R._NO_PLAN_CACHE_TAGS & set(sp[name].tags), name
        sp[name].fn(spark, sf_dir)
    plans = _plans(spark, sf_dir)
    assert [n for n in _DECLARATIVE_FORMERLY_FLAGGED if n not in plans] == []
    assert [n for n in _PRIVATE_FORMERLY_FLAGGED if n in plans] == []


def test_private_checkpoint_rematerializes_per_call(spark, sf_dir):
    """Two wrapper calls of a checkpoint-embedding query must yield plans
    over DIFFERENT RDDs — i.e. the second call re-materializes the
    intermediate instead of serving the first call's blocks."""
    from lambda_arc_events_filter_spark import registry as R
    from lambda_arc_events_filter_spark.cache import rdd_scan_ids

    fn = R.specs()["customer_lorenz_curve"].fn
    ids1 = rdd_scan_ids(fn(spark, sf_dir)._jdf.queryExecution().logical())
    ids2 = rdd_scan_ids(fn(spark, sf_dir)._jdf.queryExecution().logical())
    assert ids1 and ids2 and set(ids1).isdisjoint(ids2)


def test_every_headline_query_is_prepared_cacheable(spark, sf_dir):
    """Bench protection: every HEADLINE query must either ride the
    prepared-plan cache (its plan's RDD scans are all resident indexes)
    or carry a structural exemption (streaming/source/sink tags).  A
    regression here means some headline fn grew a query-private
    materialization — its bench reps would silently pay a per-rep py4j
    rebuild (or worse, before the round-8 guard, reuse results)."""
    import bench
    from lambda_arc_events_filter_spark import registry as R

    sp = R.specs()
    exempt_tags = R._NO_PLAN_CACHE_TAGS
    failures = []
    for name in bench.HEADLINE:
        spec = sp[name]
        if exempt_tags & set(spec.tags):
            continue
        spec.fn(spark, sf_dir)
        if name not in _plans(spark, sf_dir):
            failures.append(name)
    assert not failures, (
        "headline queries no longer prepared-cacheable: "
        f"{failures} — either keep the index they probe with "
        "cache.session_artifact or remove the query-private materialization"
    )


def _resident_probe(name: str, index_sf_dir: str):
    """A wrapped query that scans the resident index of ``index_sf_dir``
    whatever dataset it is called for."""
    from lambda_arc_events_filter_spark import registry as R

    def fn(spark, sf_dir):
        return C.session_artifact(
            spark, index_sf_dir, "idx", lambda: spark.range(3).localCheckpoint()
        ).select("id")

    return R._with_plan_cache(name, fn)


def test_plan_cache_runs_a_failing_query_once(spark, monkeypatch):
    """An exception from the query itself reaches the caller after ONE
    call: only a failure of the cache machinery may fall back to a plain
    call, never a failure of the query."""
    import pytest

    from lambda_arc_events_filter_spark import registry as R

    monkeypatch.setattr(C, "_GROUPS", {})
    calls = []

    def fn(spark, sf_dir):
        calls.append(sf_dir)
        raise RuntimeError("query failed")

    wrapped = R._with_plan_cache("failing_probe", fn)
    with pytest.raises(RuntimeError, match="query failed"):
        wrapped(spark, "/sf/a")
    assert len(calls) == 1


def test_stale_cached_plan_repairs_with_one_rebuild(spark, monkeypatch):
    """A cached plan that no longer analyzes (its view was dropped) is
    replaced by ONE rebuild, and the rebuilt plan serves the next call."""
    from lambda_arc_events_filter_spark import registry as R

    monkeypatch.setattr(C, "_GROUPS", {})
    app = spark.sparkContext.applicationId
    spark.range(3).createOrReplaceTempView("_stale_plan_view")
    stale = spark.sql("select id from _stale_plan_view")._jdf.queryExecution()
    stale = stale.logical()
    spark.catalog.dropTempView("_stale_plan_view")
    calls = []

    def fn(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(4)

    wrapped = R._with_plan_cache("stale_probe", fn)
    C.session_group(app, "/sf/a").plans["stale_probe"] = stale
    assert wrapped(spark, "/sf/a").count() == 4
    assert len(calls) == 1
    assert "stale_probe" in C._GROUPS[(app, "/sf/a")].plans
    assert wrapped(spark, "/sf/a").count() == 4
    assert len(calls) == 1, "the repaired plan serves the next call"


def test_blessing_is_application_scoped(spark, monkeypatch):
    """RDD ids restart at 0 with every new SparkContext, so a resident id
    must never leak across applications (round-8 review): a stale id
    from a stopped session admitting a new session's private checkpoint
    would re-open the result-caching hole.  Resident ids live in the
    (applicationId, sf_dir) group, so another application never sees
    them."""
    monkeypatch.setattr(C, "_GROUPS", {})
    app = spark.sparkContext.applicationId
    probe = _resident_probe("app_scope_probe", "/sf/a")
    probe(spark, "/sf/a")
    group = C._GROUPS[(app, "/sf/a")]
    assert "app_scope_probe" in group.plans
    assert group.resident
    assert not C.session_group("app-other", "/sf/a").resident


def test_resident_rdd_admits_plans_for_its_own_sf_dir_only(spark, monkeypatch):
    """A resident index of one dataset does not admit a plan cached for
    another: the group of the other ``sf_dir`` has its own resident set,
    so a plan that scans a foreign index rebuilds on every call."""
    monkeypatch.setattr(C, "_GROUPS", {})
    app = spark.sparkContext.applicationId
    probe = _resident_probe("sf_scope_probe", "/sf/a")
    probe(spark, "/sf/a")
    probe(spark, "/sf/b")
    assert "sf_scope_probe" in C._GROUPS[(app, "/sf/a")].plans
    assert "sf_scope_probe" not in C._GROUPS[(app, "/sf/b")].plans


def test_index_eviction_releases_dependent_plans(spark, monkeypatch):
    """Evicting a group drops its prepared plans with its artifacts and
    resident ids — they are one object — so no plan can pin an evicted
    index's executor blocks."""
    monkeypatch.setattr(C, "_GROUPS", {})
    app = spark.sparkContext.applicationId
    probe = _resident_probe("eviction_probe", "/sf/a")
    probe(spark, "/sf/a")
    evicted = C._GROUPS[(app, "/sf/a")]
    assert "eviction_probe" in evicted.plans
    for i in range(C._MAX_GROUPS):
        C.session_group(app, f"/sf/other{i}")
    assert (app, "/sf/a") not in C._GROUPS
    assert all(g is not evicted for g in C._GROUPS.values())
    probe(spark, "/sf/a")  # rebuilds the index and re-prepares the plan
    fresh = C._GROUPS[(app, "/sf/a")]
    assert fresh is not evicted
    assert fresh.artifacts["idx"] is not evicted.artifacts["idx"]
    assert "eviction_probe" in fresh.plans


def test_rdd_scan_ids_sees_subquery_checkpoints(spark):
    """A LogicalRDD reachable only through an IN-subquery must be visible
    to the guard (collectLeaves alone does not descend into subquery
    expressions — round-8 review finding)."""
    from lambda_arc_events_filter_spark.cache import rdd_scan_ids

    ck = spark.range(5).localCheckpoint()
    ck.createOrReplaceTempView("_guard_subq_ckv")
    df = spark.sql(
        "select id from range(10) where id in (select id from _guard_subq_ckv)"
    )
    # the RAW plan hides the checkpoint behind an UnresolvedRelation —
    # the registry therefore inspects the ANALYZED plan
    assert rdd_scan_ids(df._jdf.queryExecution().analyzed())


def test_view_name_plans_are_never_cached(spark, sf_dir):
    """A raw plan referencing a temp VIEW by name must not be cached: the
    name is global mutable state — re-registered for another dataset it
    would silently swap data under the prepared plan; dropped, it leaves
    a permanently unexecutable entry (round-8 review findings 1-2)."""
    from lambda_arc_events_filter_spark import registry as R
    from lambda_arc_events_filter_spark.cache import has_unresolved_relations

    df = spark.range(3)
    df.createOrReplaceTempView("_guard_view_probe")
    sql_df = spark.sql("select * from _guard_view_probe")
    assert has_unresolved_relations(sql_df._jdf.queryExecution().logical())
    assert not has_unresolved_relations(df._jdf.queryExecution().logical())

    # end-to-end: the registered SQL-front-door queries build through
    # temp views, so their plans must be absent from the cache after a call
    for name in ("window_ignore_nulls", "sql_frontdoor", "sql_recursive_bfs"):
        if name not in R.specs():
            continue
        R.specs()[name].fn(spark, sf_dir)
        assert name not in _plans(spark, sf_dir), name


def test_blessed_index_eviction_end_to_end(spark, sf_dir):
    """Resident-index lifecycle adversarial path (VERDICT r8 ask #5):
    force a resident tf index out of the bound-4 group store through the
    REAL runtime eviction path (four further group insertions — alternate
    path SPELLINGS of the same fixture dir, distinct keys, all readable),
    then assert (a) every dependent prepared plan of that (app, sf_dir)
    is dropped with it, and (b) the next query run rebuilds a fresh
    index and still value-matches its DuckDB oracle."""
    import os

    from lambda_arc_events_filter_spark import registry as R
    from lambda_arc_events_filter_spark.queries import text_index as TI
    from lambda_arc_events_filter_spark.testing import (
        check_query,
        duck_connection,
    )

    spec = R.specs()["text_tfidf_top_terms"]
    key = (spark.sparkContext.applicationId, sf_dir)

    spec.fn(spark, sf_dir).collect()
    assert "text_tfidf_top_terms" in _plans(spark, sf_dir)
    idx_before = C._GROUPS[key].artifacts["tf_index"]

    head, tail = os.path.dirname(sf_dir), os.path.basename(sf_dir)
    spellings = [
        sf_dir + "/",
        sf_dir + "//",
        f"{head}/./{tail}",
        f"{head}/../{os.path.basename(head)}/{tail}",
    ]
    assert len(set(spellings) | {sf_dir}) == 5
    for alt in spellings:
        TI.tf_index(spark, alt)

    # (a) index evicted AND its dependent prepared plans released
    assert key not in C._GROUPS
    assert "text_tfidf_top_terms" not in _plans(spark, sf_dir)

    # (b) next run rebuilds (new index object) and still matches the oracle
    con = duck_connection(sf_dir)
    assert check_query(spec, spark, con, sf_dir) == []
    con.close()
    assert C._GROUPS[key].artifacts["tf_index"] is not idx_before
    assert "text_tfidf_top_terms" in _plans(spark, sf_dir)


def test_session_artifact_builds_once(spark):
    """(a) A repeat call serves the stored object; ``build`` runs once."""
    from lambda_arc_events_filter_spark.cache import session_artifact

    calls = []

    def build():
        calls.append(1)
        return object()

    first = session_artifact(spark, "/sf/build-once", "thing", build)
    assert session_artifact(spark, "/sf/build-once", "thing", build) is first
    assert len(calls) == 1


def test_fifth_group_evicts_oldest_artifacts_and_plans(spark, sf_dir, monkeypatch):
    """(b) A fifth (app, sf_dir) group evicts the oldest group: all its
    artifacts, plans and scans go together; the other groups stay.  A
    query that only touches a dataset (a scan through ``catalog.load``)
    counts as much as an artifact build."""
    from lambda_arc_events_filter_spark.catalog import load

    monkeypatch.setattr(C, "_GROUPS", {})
    app = spark.sparkContext.applicationId
    for i in range(4):
        C.session_artifact(spark, f"/sf/{i}", "a", lambda: "A")
        C.session_artifact(spark, f"/sf/{i}", "b", lambda: "B")
        C.session_group(app, f"/sf/{i}").plans["q"] = object()
    assert len(C._GROUPS) == 4
    load(spark, sf_dir, "region")
    assert (app, "/sf/0") not in C._GROUPS
    assert (app, sf_dir) in C._GROUPS
    for i in range(1, 4):
        assert "q" in C._GROUPS[(app, f"/sf/{i}")].plans
    assert C._GROUPS[(app, "/sf/1")].artifacts == {"a": "A", "b": "B"}
    assert list(C._GROUPS[(app, sf_dir)].relations) == ["region"]


def test_session_artifact_blesses_dataframes_only(spark, monkeypatch):
    """(c) The RDD scans of a DataFrame value (alone or in a tuple) join
    the group's resident set; a path value leaves it untouched."""
    monkeypatch.setattr(C, "_GROUPS", {})
    app = spark.sparkContext.applicationId
    C.session_artifact(spark, "/sf/bless", "path", lambda: "/tmp/x")
    C.session_artifact(spark, "/sf/bless", "paths", lambda: ("/tmp/x", 3))
    group = C._GROUPS[(app, "/sf/bless")]
    assert group.resident == set()

    df = C.session_artifact(
        spark, "/sf/bless", "df", lambda: spark.range(3).localCheckpoint()
    )
    pair = C.session_artifact(
        spark,
        "/sf/bless",
        "pair",
        lambda: (spark.range(2).localCheckpoint(), "/tmp/y"),
    )
    for frame in (df, pair[0]):
        ids = C.rdd_scan_ids(frame._jdf.queryExecution().logical())
        assert ids and group.resident.issuperset(ids)


def test_layout_path_cache_is_bounded(spark, sf_dir, monkeypatch):
    """(d) A layout path that used to live in an unbounded module dict
    (``lakehouse_q._evolved_orders_path``) is now kept in the bounded
    store and evicted with its group."""
    from lambda_arc_events_filter_spark.queries import lakehouse_q as L

    monkeypatch.setattr(C, "_GROUPS", {})
    key = (spark.sparkContext.applicationId, sf_dir)
    path = L._evolved_orders_path(spark, sf_dir)
    assert L._evolved_orders_path(spark, sf_dir) == path
    assert C._GROUPS[key].artifacts["evolved_orders"] == path
    for i in range(C._MAX_GROUPS):
        C.session_artifact(spark, f"/sf/{i}", "other", lambda: None)
    assert key not in C._GROUPS
    assert len(C._GROUPS) == C._MAX_GROUPS


def test_scratch_root_is_removed_at_exit(tmp_path):
    """Scratch dirs (layout copies, sinks, checkpoints) share one
    per-process root under the temp dir, and the root goes when the
    interpreter exits: a child process makes a dir, writes a file, and
    exits, and nothing of it is left."""
    import os
    import subprocess
    import sys

    root_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from lambda_arc_events_filter_spark.sources.readers import scratch_dir\n"
        "a, b = scratch_dir('a'), scratch_dir('b')\n"
        "assert os.path.dirname(a) == os.path.dirname(b)\n"
        "os.makedirs(a)\n"
        "open(os.path.join(a, 'part'), 'w').close()\n"
        "print(os.path.dirname(a))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=root_dir)
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
