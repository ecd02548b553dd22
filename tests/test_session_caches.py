"""Session-cache invariants: the session-artifact store behind the corpus
indexes and layout paths (postings, tf/lexicon, IVF, written copies) and
the band-bounds cache must be build-once per (application, sf_dir) and
FIFO-bounded — an unbounded cache is a driver leak on a long-lived
session, and a cache that misses on repeat calls silently re-runs the
index build it exists to amortize."""

from __future__ import annotations

from lambda_arc_events_filter_spark.cache import bounded_put


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
    caching.  Blessed session-resident indexes (text_index, IVF) remain
    cacheable (round-8 guard)."""
    from lambda_arc_events_filter_spark import registry as R

    all_specs = R.specs()

    def cache_key(name):
        return (spark.sparkContext.applicationId, sf_dir, name)

    # query-private checkpoint (the rank helper's derived-input
    # materialization inside lorenz): never cached
    all_specs["customer_lorenz_curve"].fn(spark, sf_dir)
    assert cache_key("customer_lorenz_curve") not in R._PLAN_CACHE

    # pareto dropped its private checkpoint in round 8 (concurrent
    # diamond) — fully declarative again, so the prepared plan IS cached
    all_specs["lineitem_pareto_abc"].fn(spark, sf_dir)
    assert cache_key("lineitem_pareto_abc") in R._PLAN_CACHE

    # driver-computed input data: never cached
    all_specs["events_raking_ipf"].fn(spark, sf_dir)
    assert cache_key("events_raking_ipf") not in R._PLAN_CACHE

    # blessed resident tf index: prepared plan IS cached
    all_specs["text_tfidf_top_terms"].fn(spark, sf_dir)
    assert cache_key("text_tfidf_top_terms") in R._PLAN_CACHE

    # plain scan-chain query: cached as before
    all_specs["agg_stats"].fn(spark, sf_dir)
    assert cache_key("agg_stats") in R._PLAN_CACHE


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
    prepared-plan cache (its plan's RDD scans are all blessed indexes)
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
        if (spark.sparkContext.applicationId, sf_dir, name) not in R._PLAN_CACHE:
            failures.append(name)
    assert not failures, (
        "headline queries no longer prepared-cacheable: "
        f"{failures} — either bless the session index they probe or "
        "remove the query-private materialization"
    )


def test_blessing_is_application_scoped():
    """RDD ids restart at 0 with every new SparkContext, so a blessing
    must never leak across applications (round-8 review): a stale id
    from a stopped session admitting a new session's private checkpoint
    would re-open the result-caching hole."""
    from lambda_arc_events_filter_spark import cache as C

    C.RESIDENT_RDD_IDS[("app-old", 5)] = None
    try:
        assert C.is_blessed("app-old", [5])
        assert not C.is_blessed("app-new", [5])
        assert C.is_blessed("app-new", [])  # vacuous: no RDD scans
    finally:
        C.RESIDENT_RDD_IDS.pop(("app-old", 5), None)


def test_index_eviction_releases_dependent_plans():
    """bounded_put's on_evict hook + release_plans_for must drop every
    prepared plan of the evicted (applicationId, sf_dir) so the plan
    cache cannot pin an evicted index's executor blocks."""
    from lambda_arc_events_filter_spark import cache as C

    sink: dict = {
        ("app", "/sf/a", "q1"): object(),
        ("app", "/sf/a", "q2"): object(),
        ("app", "/sf/b", "q1"): object(),
    }
    C.PLAN_CACHE_SINKS.append(sink)
    try:
        idx: dict = {}
        C.bounded_put(idx, ("app", "/sf/a"), "A", 1, on_evict=C.release_plans_for)
        C.bounded_put(idx, ("app", "/sf/b"), "B", 1, on_evict=C.release_plans_for)
        # inserting /sf/b evicted /sf/a → its two plans must be gone
        assert ("app", "/sf/a", "q1") not in sink
        assert ("app", "/sf/a", "q2") not in sink
        assert ("app", "/sf/b", "q1") in sink
    finally:
        C.PLAN_CACHE_SINKS.remove(sink)


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
    for name in ("window_ignore_nulls", "sql_frontdoor"):
        if name not in R.specs():
            continue
        R.specs()[name].fn(spark, sf_dir)
        key = (spark.sparkContext.applicationId, sf_dir, name)
        assert key not in R._PLAN_CACHE, name


def test_blessed_index_eviction_end_to_end(spark, sf_dir):
    """Blessing-lifecycle adversarial path (VERDICT r8 ask #5): force a
    blessed tf index out of the bound-4 artifact store through the REAL
    runtime eviction path (four further group insertions — alternate path
    SPELLINGS of the same fixture dir, distinct keys, all readable), then
    assert (a) every dependent prepared plan of that (app, sf_dir) is
    dropped with it — coupled eviction at runtime, not just the unit-level
    hook — and (b) the next query run rebuilds a fresh index and still
    value-matches its DuckDB oracle."""
    import os

    from lambda_arc_events_filter_spark import cache as C
    from lambda_arc_events_filter_spark import registry as R
    from lambda_arc_events_filter_spark.queries import text_index as TI
    from lambda_arc_events_filter_spark.testing import (
        check_query,
        duck_connection,
    )

    spec = R.specs()["text_tfidf_top_terms"]
    app = spark.sparkContext.applicationId
    plan_key = (app, sf_dir, "text_tfidf_top_terms")
    idx_key = (app, sf_dir)

    spec.fn(spark, sf_dir).collect()
    assert plan_key in R._PLAN_CACHE
    idx_before = C._ARTIFACTS[idx_key]["tf_index"]

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
    assert idx_key not in C._ARTIFACTS
    assert plan_key not in R._PLAN_CACHE
    assert not any(k[:2] == idx_key for k in R._PLAN_CACHE)

    # (b) next run rebuilds (new index object) and still matches the oracle
    con = duck_connection(sf_dir)
    assert check_query(spec, spark, con, sf_dir) == []
    con.close()
    assert C._ARTIFACTS[idx_key]["tf_index"] is not idx_before
    assert plan_key in R._PLAN_CACHE


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


def test_fifth_group_evicts_oldest_artifacts_and_plans(spark, monkeypatch):
    """(b) A fifth (app, sf_dir) group evicts the oldest group: all its
    artifacts and all its prepared plans go together; the other groups'
    artifacts and plans stay."""
    from lambda_arc_events_filter_spark import cache as C

    monkeypatch.setattr(C, "_ARTIFACTS", {})
    app = spark.sparkContext.applicationId
    sink: dict = {(app, f"/sf/{i}", "q"): object() for i in range(5)}
    C.PLAN_CACHE_SINKS.append(sink)
    try:
        for i in range(4):
            C.session_artifact(spark, f"/sf/{i}", "a", lambda: "A")
            C.session_artifact(spark, f"/sf/{i}", "b", lambda: "B")
        assert len(C._ARTIFACTS) == 4
        C.session_artifact(spark, "/sf/4", "a", lambda: "A")
        assert (app, "/sf/0") not in C._ARTIFACTS
        assert (app, "/sf/0", "q") not in sink
        for i in range(1, 5):
            assert (app, f"/sf/{i}") in C._ARTIFACTS
            assert (app, f"/sf/{i}", "q") in sink
        assert C._ARTIFACTS[(app, "/sf/1")] == {"a": "A", "b": "B"}
    finally:
        C.PLAN_CACHE_SINKS.remove(sink)


def test_session_artifact_blesses_dataframes_only(spark, monkeypatch):
    """(c) A DataFrame value (alone or in a tuple) is blessed as
    session-resident; a path value leaves the blessings untouched."""
    from lambda_arc_events_filter_spark import cache as C

    monkeypatch.setattr(C, "_ARTIFACTS", {})
    app = spark.sparkContext.applicationId
    before = dict(C.RESIDENT_RDD_IDS)
    C.session_artifact(spark, "/sf/bless", "path", lambda: "/tmp/x")
    C.session_artifact(spark, "/sf/bless", "paths", lambda: ("/tmp/x", 3))
    assert C.RESIDENT_RDD_IDS == before

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
        assert ids and C.is_blessed(app, ids)


def test_layout_path_cache_is_bounded(spark, sf_dir, monkeypatch):
    """(d) A layout path that used to live in an unbounded module dict
    (``lakehouse_q._evolved_orders_path``) is now kept in the bounded
    store and evicted with its group."""
    from lambda_arc_events_filter_spark import cache as C
    from lambda_arc_events_filter_spark.queries import lakehouse_q as L

    monkeypatch.setattr(C, "_ARTIFACTS", {})
    key = (spark.sparkContext.applicationId, sf_dir)
    path = L._evolved_orders_path(spark, sf_dir)
    assert L._evolved_orders_path(spark, sf_dir) == path
    assert C._ARTIFACTS[key]["evolved_orders"] == path
    for i in range(C._ARTIFACT_GROUPS):
        C.session_artifact(spark, f"/sf/{i}", "other", lambda: None)
    assert key not in C._ARTIFACTS
    assert len(C._ARTIFACTS) == C._ARTIFACT_GROUPS
