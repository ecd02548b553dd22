"""Physical-plan shape tests (SURVEY.md §4): the plans we designed for are
asserted, not assumed.  A regression here is a scale bug even when results
stay correct."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.plans import inspect as I
from lambda_arc_events_filter_spark.registry import specs

ALL = specs()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = ALL["filter_comparisons"].fn(spark, sf_dir)
    assert I.has_pushed_filters(df), "comparison predicates must push down"


def test_column_pruning_reads_only_needed_columns(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = I.scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_q01_scan_prunes_unused_columns(spark, sf_dir):
    df = ALL["q01_pricing_summary"].fn(spark, sf_dir)
    cols = set(I.scan_read_schema(df))
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_tax"} <= cols


def test_dim_join_broadcasts(spark, sf_dir):
    df = ALL["join_broadcast_dims"].fn(spark, sf_dir)
    assert I.uses_broadcast_join(df)
    assert not I.uses_nested_loop_join(df)


def test_banded_range_join_is_hash_not_nested_loop(spark, sf_dir):
    """The whole point of banding: a pure range predicate must NOT plan as
    BroadcastNestedLoopJoin."""
    df = ALL["range_join_library"].fn(spark, sf_dir)
    assert not I.uses_nested_loop_join(df), I.formatted_plan(df)[:2000]


def test_topk_plans_take_ordered(spark, sf_dir):
    df = ALL["topk_orders"].fn(spark, sf_dir)
    assert I.uses_take_ordered(df), "ORDER BY+LIMIT must not global-sort"


def test_topk_per_group_plans_window_group_limit(spark, sf_dir):
    df = ALL["window_topk_per_group"].fn(spark, sf_dir)
    assert I.uses_window_group_limit(df)


def test_catalyst_queries_have_no_python_nodes(spark, sf_dir):
    """Every non-UDF query must stay JVM-side end to end."""
    for name in ("q01_pricing_summary", "join_multiway_star", "agg_stats",
                 "dedup_minhash_lsh", "embedding_topk_cosine",
                 "text_quality_scores", "doc_fingerprints"):
        df = ALL[name].fn(spark, sf_dir)
        assert not I.has_python_in_plan(df), f"{name} has Python in the plan"


def test_udf_queries_are_arrow_not_row_python(spark, sf_dir):
    df = ALL["udf_pandas_scalar"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_codegen_covers_flagship(spark, sf_dir):
    df = ALL["q01_pricing_summary"].fn(spark, sf_dir)
    assert I.whole_stage_codegen_ids(df) >= 1


def test_partitioned_sink_reread_dynamic_prunes(spark, sf_dir):
    """The partitioned-layout contract: joining on the partition column
    with a filtered dim must insert a dynamic-pruning subquery into the
    fact scan (not list every partition)."""
    df = ALL["partitioned_sink_dpp"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "dynamicpruning" in plan, plan[:2000]


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    """The salted join must group on (key, shard) — no single-reducer hot
    key — and still produce the unsalted result (oracle-checked); here we
    assert the salt column reaches the join keys."""
    df = ALL["join_salted_skew"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "_shard" in plan, plan[:2000]


def test_source_cap_plans_window_group_limit(spark, sf_dir):
    """The per-domain cap must push the rank filter into WindowGroupLimit:
    at corpus scale the shuffle then moves O(sources x N) rows, not the
    corpus."""
    df = ALL["corpus_source_cap"].fn(spark, sf_dir)
    assert I.uses_window_group_limit(df)


def test_star_join_streams_the_fact_table(spark, sf_dir):
    """Fact-first star join: lineitem must be the streaming side of every
    join, never a broadcast build side (round 1 broadcast 600k lineitem
    rows to the driver)."""
    plan = I.formatted_plan(ALL["join_multiway_star"].fn(spark, sf_dir))
    # In the formatted plan each BroadcastExchange section lists its child
    # scan; lineitem's scan must not appear under any of them.  Sections
    # are numbered "(n) NodeName" with children listed after; instead of
    # parsing the tree, assert the simpler invariant that survives AQE:
    # every broadcast build in this plan hashes an int key column from a
    # dim/filtered side, and the lineitem scan feeds the leftmost
    # (streaming) leaf — its scan id is (1), the first leaf of the tree.
    import re

    scans = re.findall(r"\((\d+)\) Scan parquet[\s\S]*?Location.*?(\w+)(?:-\d+)*\.parquet", plan)
    assert scans, plan[:500]
    first_scan_table = scans[0][1]
    assert "lineitem" in first_scan_table, (
        "lineitem must be the streaming-side leaf, got " + first_scan_table
    )


ONE_TASK_SORTS = {
    # query -> the columns its ORDER BY sorts on
    "q01_pricing_summary": ["l_returnflag", "l_linestatus"],
    "join_multiway_star": ["n_name"],
}


@pytest.mark.parametrize("name", sorted(ONE_TASK_SORTS))
def test_bounded_results_sort_in_one_task(spark, sf_dir, name):
    """q01 and the star join order a result bounded by the grouping
    domain, so they coalesce to one task before the sort: the executed
    plan must hold no range exchange (which costs a sampling job and two
    stages to order at most 25 rows)."""
    df = ALL[name].fn(spark, sf_dir)
    assert I.executed_range_exchanges(df) == (0, 0), I.formatted_plan(df)[:3000]


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_one_task_sort_inputs_are_bounded(sf_dir, scale):
    """The fact behind the one-task sorts: q01 groups on (l_returnflag,
    l_linestatus), at most 6 pairs, and the star join on the nation name,
    at most 25 rows, at every scale."""
    import pyarrow.parquet as pq

    root = os.path.join(os.path.dirname(sf_dir), scale)
    if not os.path.exists(os.path.join(root, "lineitem.parquet")):
        pytest.skip(f"no {scale} fixture")
    flags = pq.read_table(
        os.path.join(root, "lineitem.parquet"),
        columns=["l_returnflag", "l_linestatus"],
    )
    pairs = flags.group_by(["l_returnflag", "l_linestatus"]).aggregate([])
    assert pairs.num_rows <= 6
    assert pq.read_metadata(os.path.join(root, "nation.parquet")).num_rows <= 25


@pytest.mark.parametrize("name", sorted(ONE_TASK_SORTS))
def test_one_task_sort_order_matches_duckdb(spark, sf_dir, duck, name):
    """Row ORDER, which the oracle comparison ignores: Spark's rows come
    back in the sequence of the DuckDB twin's ORDER BY."""
    spec, cols = ALL[name], ONE_TASK_SORTS[name]
    got = [tuple(r[c] for c in cols) for r in spec.fn(spark, sf_dir).collect()]
    want = list(duck.sql(spec.oracle).df()[cols].itertuples(index=False, name=None))
    assert got == want


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """bucketed_join_colocated's contract: with both sides bucketed on the
    join key, the SMJ must read bucket-to-bucket — the ONLY Exchange in the
    whole plan is the final aggregate's."""
    df = ALL["bucketed_join_colocated"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert I.uses_sort_merge_join(df), plan[:2000]
    # formatted output repeats each node (tree line "+- Exchange (n)" +
    # detail header "(n) Exchange"): one Exchange node == one tree line
    assert plan.count("+- Exchange") == 1, plan[:3000]
    assert ":- Exchange" not in plan and "BroadcastExchange" not in plan


def test_vocab_topk_plans_take_ordered(spark, sf_dir):
    """Vocabulary head must be per-partition top-k, never a vocabulary-wide
    global sort."""
    df = ALL["vocab_top_terms"].fn(spark, sf_dir)
    assert I.uses_take_ordered(df), "ORDER BY tf LIMIT 100 must not global-sort"


def test_sessionize_single_exchange(spark, sf_dir):
    """One hash(user_id) exchange must serve the lag window, the running
    sum, and the session rollup — extra exchanges mean the clustering
    contract broke."""
    import re

    df = ALL["events_sessionize_gaps"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}"


def test_kmeans_broadcasts_centroids_corpus_never_shuffles(spark, sf_dir):
    """Lloyd rounds broadcast the centroid table; the embedding corpus must
    never hash-exchange on its own rows (only the tiny (cluster, dim)
    aggregates may)."""
    import re

    df = ALL["embedding_kmeans_assign"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "BroadcastExchange" in plan
    # the only hash exchanges allowed are aggregate-side: seed assembly,
    # (cluster, dim) means, and the fused refresh reshape (r14 — the old
    # separate groupBy(cluster).collect_list step cost a 4th); a
    # corpus-wide distance-row shuffle would add O(rounds) more
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges <= 3, f"{n_exchanges} exchanges — corpus likely shuffling"


def test_unigram_logprob_lm_side_broadcasts(spark, sf_dir):
    """The rescore join's LM side is post-aggregation (Zipf-bounded) and
    must broadcast under AQE rather than reshuffling the token stream."""
    df = ALL["text_unigram_logprob"].fn(spark, sf_dir)
    df.collect()  # AQE decides join strategies at runtime
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final[:2000]


def test_range_percentile_broadcasts_targets(spark, sf_dir):
    """The range-rank percentile's straddling-rank join must broadcast the
    tiny target relation — a hash exchange of the ranked corpus there
    would undo the plan's point."""
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    df = group_percentile_cont(
        load(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_extendedprice",
        {"median": 0.5},
    )
    plan = I.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_range_percentile_counts_pass_shared_no_expand(spark, sf_dir):
    """The r13 restructure of the banded percentile (functions/stats.py):
    per-(group, band) counts come from ONE plain aggregate (no GROUPING
    SETS — the old fused plan's per-consumer ``_gid`` filters were pushed
    below the exchange, specializing it into 2-3 separate Expand fact
    passes that ReuseExchange could not match), the per-group total ``_n``
    is the band-sum of that tiny relation, and extras run in their own
    plain pass.  Pins: (a) NO Expand anywhere in the plan; (b) the counts
    aggregate's fact exchange is REUSED across its consumers at runtime —
    a regression to per-consumer specialization would re-add a full fact
    pass per consumer."""
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    # AQE off for the pin (the BPE scan-count test's pattern): adaptive
    # query stages re-print shared subtrees at every reference, so scan
    # counts on the adaptive executed plan overcount; conf restored
    # unconditionally.
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = group_percentile_cont(
            load(spark, sf_dir, "lineitem"),
            ["l_returnflag"],
            "l_extendedprice",
            {"p25": 0.25, "median": 0.5},
            extra_aggs=[F.count(F.lit(1)).alias("n_rows")],
        )
        plan = I.formatted_plan(df)
        assert "Expand" not in plan, plan[:2000]
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in executed, executed[:2000]
    # ADVICE r13: "some ReusedExchange exists" is satisfiable by an
    # unrelated reuse (the offsets window's) — pin the counts pass
    # SPECIFICALLY by counting fact scans: with extras the plan runs
    # exactly extras + counts + hit-band rank = 3 fact passes; a
    # re-split of the counts pass into per-consumer copies adds more.
    n_scans = executed.count("FileScan parquet")
    assert n_scans <= 3, (
        f"{n_scans} fact scans — counts pass re-split?\n" + executed[:2000]
    )


def test_interval_overlap_plans_equi_join_not_nested_loop(spark, sf_dir):
    """The chunked interval join's entire point: the overlap theta
    predicate must ride a cell equi-join, never BroadcastNestedLoopJoin."""
    df = ALL["interval_overlap_join"].fn(spark, sf_dir)
    assert not I.uses_nested_loop_join(df), I.formatted_plan(df)[:1500]


def test_pair_family_probes_unblocked_postings_index(spark, sf_dir):
    """The _PAIR_CTE family must PROBE the session unblocked-postings
    index: no Generate/explode (re-shingling) in their plans — a
    regression here re-runs the corpus shingle build per call (round 8:
    six per-call postings builds were replaced by one resident index)."""
    for name in (
        "dedup_shingle_containment",
        "dedup_graph_degree_stats",
        "dedup_graph_triangles",
        "dedup_graph_two_hop",
        "corpus_dup_rate_by_source",
    ):
        plan = I.formatted_plan(ALL[name].fn(spark, sf_dir))
        assert "Generate" not in plan, (name, plan[:1500])


def test_text_index_consumers_probe_not_retokenize(spark, sf_dir):
    """The tf-index consumers must PROBE the session index: their plans
    contain no Generate/explode (re-tokenization) — tfidf additionally
    broadcast-joins the lexicon.  A regression here silently re-runs the
    corpus tokenize+count per call."""
    tfidf = ALL["text_tfidf_top_terms"].fn(spark, sf_dir)
    plan = I.formatted_plan(tfidf)
    assert "Generate" not in plan, plan[:1500]
    assert I.uses_broadcast_join(tfidf)
    for name in ("text_unigram_logprob", "vocab_top_terms"):
        plan = I.formatted_plan(ALL[name].fn(spark, sf_dir))
        assert "Generate" not in plan, (name, plan[:1500])


def test_sorted_layout_pushes_range_predicate(spark, sf_dir):
    """The clustered-layout scan must push the BETWEEN predicate into the
    parquet reader (row-group min/max skipping depends on it)."""
    df = ALL["sorted_layout_point_scan"].fn(spark, sf_dir)
    assert I.has_pushed_filters(df), I.formatted_plan(df)[:1500]


def test_q03_plans_take_ordered_and_broadcast(spark, sf_dir):
    """TPC-H Q3 shape: ORDER BY revenue LIMIT 10 must plan as
    TakeOrderedAndProject (no global sort), and the segment-filtered
    customer side must broadcast."""
    df = ALL["q03_shipping_priority"].fn(spark, sf_dir)
    assert I.uses_take_ordered(df), "Q3 top-10 must not global-sort"
    assert I.uses_broadcast_join(df)
    assert I.has_pushed_filters(df), "segment/date filters must push down"


def test_q05_no_nested_loop_and_pruned_scans(spark, sf_dir):
    """The 6-table star with the nation-closing cycle must stay all
    hash/broadcast joins — a nested-loop anywhere is a scale bug."""
    df = ALL["q05_region_supplier_volume"].fn(spark, sf_dir)
    assert not I.uses_nested_loop_join(df), I.formatted_plan(df)[:2000]
    assert I.uses_broadcast_join(df)


def test_in_subquery_three_valued_broadcasts(spark, sf_dir):
    """The explicit null-aware membership must broadcast both tiny sides —
    the orders scan never shuffles."""
    df = ALL["in_subquery_three_valued"].fn(spark, sf_dir)
    assert I.uses_broadcast_join(df)
    assert not I.has_python_in_plan(df)


def test_referential_audit_broadcasts_parents(spark, sf_dir):
    """FK-audit probes must broadcast the parent key sides — the fact
    tables never shuffle."""
    df = ALL["referential_integrity_audit"].fn(spark, sf_dir)
    assert I.uses_broadcast_join(df)
    assert not I.uses_nested_loop_join(df)


def test_merge_upsert_broadcasts_change_set(spark, sf_dir):
    """MERGE: the change set broadcasts; the snapshot side never
    exchanges for the join."""
    df = ALL["batch_merge_upsert"].fn(spark, sf_dir)
    assert I.uses_broadcast_join(df)
    assert not I.has_python_in_plan(df)


def test_lateral_join_decorrelates_to_window(spark, sf_dir):
    """The correlated LIMIT subquery must decorrelate — no per-row
    subquery execution, no nested loop over the outer side."""
    df = ALL["lateral_join_topn"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "LateralJoin" not in plan, "lateral must be decorrelated"
    assert not I.has_python_in_plan(df)


# Queries whose plan legitimately keeps a partition-less window, each with
# the structural reason the relation CANNOT grow with data volume.  Any
# other query sprouting one is a scale regression and fails the lint.
_BOUNDED_GLOBAL_WINDOW_OK = {
    # sequential EWMA recurrence over the DAILY rollup: series length is
    # bounded by the calendar span, and a recurrence cannot re-associate
    # without changing float results (statistics_q.events_ewma_daily).
    "events_ewma_daily",
    # grand totals over the hashed-feature bucket stats: the relation is
    # 64 rows BY CONSTRUCTION (the DSIR model's fixed width) at any
    # corpus size (curation_q.corpus_dsir_weights).
    "corpus_dsir_weights",
    # SPRT running evidence over the DAILY rollup: series length is
    # bounded by the experiment's calendar span
    # (statistics_q.events_ab_sequential_sprt).
    "events_ab_sequential_sprt",
    # lexical rank over the TakeOrderedAndProject top-depth cut: the
    # window input is LIMIT 50 by construction at any corpus size
    # (llm_q.retrieval_hybrid_rrf; test_hybrid_rrf_plan_shape pins the
    # TakeOrdered feeding it).
    "retrieval_hybrid_rrf",
    # rerank stage over BB1's fused top-k: inherits the hybrid_rrf cut
    # (its windows run on the ≤50-row lex leg and the ≤10-row fused
    # shortlist — both LIMIT-bounded by construction; the final rank
    # windows ≤10 rows post-TakeOrdered) (llm_q.retrieval_rerank_pipeline).
    "retrieval_rerank_pipeline",
}


def test_no_single_partition_window_over_unbounded_relation(spark, sf_dir):
    """Registry-wide lint: a Window with an empty partition spec plans as
    WindowExec over SinglePartition — every input row moves to ONE task.
    The range-partitioned helpers (functions/rank.py) exist so no query
    needs one; the allowlist above carries the only justified exceptions."""
    skip_tags = {"streaming", "source", "sink", "iterative"}
    offenders = {}
    for name, s in ALL.items():
        if skip_tags & set(s.tags) or name in _BOUNDED_GLOBAL_WINDOW_OK:
            continue
        df = s.fn(spark, sf_dir)
        bad = I.empty_partition_window_specs(df)
        if bad:
            offenders[name] = bad[0]
    assert not offenders, f"single-partition windows: {offenders}"


# ---------------------------------------------------------------------------
# Round-10 additions: scale-shape pins for the new operators
# ---------------------------------------------------------------------------


def _final_executed(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("Initial Plan")[0]


def test_dsir_single_fact_scan_with_reuse(spark, sf_dir):
    """corpus_dsir_weights must read the corpus ONCE: the bucket-stats
    build side rides a ReusedExchange of the probe side's fact exchange
    (the non-nullable bucket key makes the subtrees canonical-equal);
    the stats join back is a broadcast."""
    df = ALL["corpus_dsir_weights"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert final.count("FileScan parquet") == 1, "corpus scanned more than once"
    assert "ReusedExchange" in final
    assert I.uses_broadcast_join(df)
    assert not I.has_python_in_plan(df)


def test_logreg_gd_is_collect_free_broadcast_diamond(spark, sf_dir):
    """docs_quality_logreg_gd: the whole 2-step GD fit is one lazy plan —
    gradient aggregates broadcast back (1-row builds), no Python
    boundary; the feature relation recomputes as a plan diamond (3 scans
    max) rather than a driver loop."""
    df = ALL["docs_quality_logreg_gd"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert not I.has_python_in_plan(df)
    assert 1 <= final.count("FileScan parquet") <= 3
    assert "BroadcastExchange" in final


def test_hopping_window_is_expand_plus_one_aggregate(spark, sf_dir):
    """batch_hopping_window_agg: the TVF's multi-window assignment plans
    as Expand (fixed 2x fan-out) feeding ONE keyed hash aggregate — no
    join, no window exec."""
    df = ALL["batch_hopping_window_agg"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert "Expand" in final
    assert I.executed_hash_exchanges(df) == 1
    assert "WindowExec" not in final and " Window " not in final


def test_span_masks_single_doc_keyed_exchange(spark, sf_dir):
    """corpus_span_corruption_masks: explode + cover-window + islands +
    span aggregate all share ONE doc_id-keyed exchange partitioning (the
    window's), with no extra shuffle for the island aggregate."""
    df = ALL["corpus_span_corruption_masks"].fn(spark, sf_dir)
    assert I.executed_hash_exchanges(df) <= 1
    assert not I.has_python_in_plan(df)


def test_exact_substring_two_exchanges_and_pruned_scan(spark, sf_dir):
    """dedup_exact_substring: ONE exchange on the md5 anchor digest (the
    cross-doc window) + ONE on doc_id (island merge); both per-doc
    aggregates must reuse the doc_id partitioning, and the documents
    scan must read only (doc_id, text)."""
    import re

    df = ALL["dedup_exact_substring"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 2, f"expected 2 exchanges, plan has {n_exchanges}"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) == {"doc_id", "text"}


def test_winnowing_fingerprints_single_doc_exchange(spark, sf_dir):
    """text_winnowing_fingerprints: ONE doc-keyed exchange must serve the
    bounded 5-row frame window, the distinct, and the per-doc aggregate —
    a document never leaves its partition."""
    import re

    df = ALL["text_winnowing_fingerprints"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}"


def test_exact_substring_cut_reuses_span_subtree(spark, sf_dir):
    """dedup_exact_substring_cut derives both gap and tail keep segments
    from ONE explode over the span relation — a union formulation
    re-derived the whole span subtree per branch (2 scans / 4
    exchanges); this pins the single-scan, two-exchange shape."""
    import re

    df = ALL["dedup_exact_substring_cut"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert (n_exchanges, n_scans) == (2, 1), (n_exchanges, n_scans)


def test_bradley_terry_stays_jvm_and_broadcasts_ratings(spark, sf_dir):
    """parts_bradley_terry_strength: pair mining is in-row (exactly one
    fact-side lineitem scan — no fact self-join), MM rounds join the
    broadcast rating vector, and nothing crosses a Python boundary.
    (The mean-normalization crossJoin is the allowlisted 1-row
    broadcast-nested-loop, so no blanket no-NLJ assert.)"""
    df = ALL["parts_bradley_terry_strength"].fn(spark, sf_dir)
    assert not I.has_python_in_plan(df)
    assert I.uses_broadcast_join(df)
    final = _final_executed(df)
    n_li = sum(
        "lineitem" in ln for ln in final.splitlines() if "Scan parquet" in ln
    )
    assert n_li <= 1, f"lineitem scanned {n_li} times (fact self-join?)"


def test_jackknife_single_fact_aggregate_no_window(spark, sf_dir):
    """orders_jackknife_ratio_ci: ONE orders scan feeds one custkey-keyed
    aggregate; the G-row jackknife algebra is broadcast cross joins —
    no window, no fact rescan per left-out group."""
    import re

    df = ALL["orders_jackknife_ratio_ci"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert final.count("Scan parquet") == 3, (  # orders+customer+nation ×1
        final[:2000]
    )
    assert "ReusedExchange" in final  # LOO algebra reuses the G-row agg
    assert "WindowExec" not in final and not I.has_python_in_plan(df)


def test_ipw_ate_no_global_window(spark, sf_dir):
    """events_ipw_ate_stratified: tertile thresholds come from a scalar
    exact-percentile aggregate, NOT a global ntile window (the
    single-partition-window ban); two pre/post fact aggregates max."""
    import re

    df = ALL["events_ipw_ate_stratified"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert "WindowExec" not in final and " Window " not in final
    assert final.count("Scan parquet") <= 3, final[:2000]
    assert "ReusedExchange" in final  # threshold subtree reuses pre/post
    assert not I.has_python_in_plan(df)


def test_holt_winters_single_fold_no_window(spark, sf_dir):
    """events_holt_winters_seasonal: the triple recurrence folds ONCE
    over the daily array — one events scan, no window exec anywhere."""
    import re

    df = ALL["events_holt_winters_seasonal"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "WindowExec" not in plan and " Window " not in plan
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert n_scans == 1, plan[:2000]
    assert not I.has_python_in_plan(df)


def test_aipw_and_ca_trend_no_global_window(spark, sf_dir):
    """events_aipw_doubly_robust / events_cochran_armitage_trend: same
    posture as the IPW twin — user-keyed fact aggregates, percentile
    scalar broadcast back, no window anywhere."""
    for name in ("events_aipw_doubly_robust", "events_cochran_armitage_trend"):
        df = ALL[name].fn(spark, sf_dir)
        final = _final_executed(df)
        assert "WindowExec" not in final, name
        assert final.count("Scan parquet") <= 3, name
        assert not I.has_python_in_plan(df), name


def test_woe_iv_single_scan_one_exchange(spark, sf_dir):
    """features_woe_iv: one orders scan into one category-keyed
    aggregate; totals are a broadcast cross join."""
    df = ALL["features_woe_iv"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert final.count("Scan parquet") == 1
    assert "WindowExec" not in final
    assert not I.has_python_in_plan(df)


def test_textrank_broadcasts_rank_vector(spark, sf_dir):
    """text_textrank_keywords: PR rounds join the broadcast rank vector
    over the checkpointed edge relation; the top-k is a heap, not a
    global sort; no Python anywhere."""
    df = ALL["text_textrank_keywords"].fn(spark, sf_dir)
    assert not I.has_python_in_plan(df)
    assert I.uses_broadcast_join(df)
    assert I.uses_take_ordered(df)


def test_bot_score_single_user_exchange(spark, sf_dir):
    """events_bot_score_heuristics: the lag window and the per-user
    aggregate share ONE user-keyed hash exchange."""
    df = ALL["events_bot_score_heuristics"].fn(spark, sf_dir)
    assert I.executed_hash_exchanges(df) == 1
    assert not I.has_python_in_plan(df)


def test_shrinkage_two_aggregates_no_window(spark, sf_dir):
    """parts_return_rate_shrinkage: one part-keyed fact aggregate, the
    1-row prior broadcast back — no window, single lineitem scan."""
    df = ALL["parts_return_rate_shrinkage"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert final.count("Scan parquet") <= 2  # ReuseExchange may keep 1
    assert "WindowExec" not in final
    assert not I.has_python_in_plan(df)


def test_markov_holdout_bounded_windows_only(spark, sf_dir):
    """events_markov_holdout_accuracy: the only fact-scale window is
    the (user, era)-keyed lag; argmax rides the bounded transition
    table; predictions broadcast into the test join."""
    df = ALL["events_markov_holdout_accuracy"].fn(spark, sf_dir)
    assert I.uses_broadcast_join(df)
    assert not I.has_python_in_plan(df)


def test_unseen_vocab_two_aggregates(spark, sf_dir):
    """corpus_unseen_vocab_estimate: explode → two map-side-combinable
    aggregates, one documents scan, no window, no join."""
    df = ALL["corpus_unseen_vocab_estimate"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert final.count("Scan parquet") == 1
    assert "WindowExec" not in final
    assert not I.has_python_in_plan(df)


def test_permutation_test_fans_out_users_not_events(spark, sf_dir):
    """events_permutation_test: the 199-way explode rides the per-user
    relation (one events scan feeding a user-keyed aggregate first);
    no window anywhere."""
    df = ALL["events_permutation_test"].fn(spark, sf_dir)
    final = _final_executed(df)
    assert "WindowExec" not in final
    assert final.count("Scan parquet") <= 2
    assert not I.has_python_in_plan(df)


def test_psm_candidates_via_banded_equi_join(spark, sf_dir):
    """events_psm_nn_att: the matching join must be a hash join on
    (stratum, bucket) — never a nested loop over treated x control."""
    df = ALL["events_psm_nn_att"].fn(spark, sf_dir)
    assert not I.uses_nested_loop_join(df) or I.uses_broadcast_join(df)
    final = _final_executed(df)
    assert "BroadcastNestedLoopJoin Inner" not in final
    assert not I.has_python_in_plan(df)


def test_hybrid_rrf_plan_shape(spark, sf_dir):
    """retrieval_hybrid_rrf (BB1): the lexical leg's top-depth must be a
    TakeOrderedAndProject (never a global sort of the hit list), the
    query-vector and df/stats relations broadcast, no nested-loop join,
    and the only unpartitioned window runs AFTER the depth cut (over
    ≤50 rows) — asserted by the take-ordered node feeding it."""
    df = ALL["retrieval_hybrid_rrf"].fn(spark, sf_dir)
    assert I.uses_take_ordered(df), "lexical top-depth must TakeOrdered"
    assert I.uses_broadcast_join(df)
    # the only nested-loop joins allowed are the two deliberate 1-row
    # broadcasts (corpus stats onto the BM25 hit list; the single query
    # vector onto the embedding corpus — brute_force_topk's shape)
    import re

    plan = I.formatted_plan(df)
    nlj_nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(nlj_nodes) <= 2, plan[:2000]
    assert not I.has_python_in_plan(df)
