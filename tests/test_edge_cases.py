"""Degenerate-input behavior of the composite operators: empty relations,
singleton groups, and no-match shapes.  At 100 TB every one of these
occurs daily (an empty delta batch, a key with one row, a filter that
matches nothing) — an operator that throws or silently mis-shapes on
them is a pager, not a library."""

from __future__ import annotations

import pyspark.sql.functions as F

from lambda_arc_events_filter_spark.catalog import load


def _empty_like(df):
    return df.filter(F.lit(False))


def test_asof_join_empty_right_keeps_left_with_nulls(spark, sf_dir):
    from lambda_arc_events_filter_spark.operators.asof import asof_join

    e = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("t"), "value"
    ).limit(50)
    dim = _empty_like(
        e.select("user_id", "t", F.col("value").alias("state"))
    )
    out = asof_join(e, dim, key="user_id", time_col="t", value_cols=["state"])
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["_asof_state"] is None for r in rows)


def test_asof_join_empty_left_yields_empty(spark, sf_dir):
    from lambda_arc_events_filter_spark.operators.asof import asof_join

    e = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("t"), "value"
    )
    out = asof_join(
        _empty_like(e), e.select("user_id", "t", F.col("value").alias("v")),
        key="user_id", time_col="t", value_cols=["v"],
    )
    assert out.count() == 0


def test_banded_range_join_no_overlap_is_empty_not_error(spark, sf_dir):
    from lambda_arc_events_filter_spark.operators.range_join import (
        banded_range_join,
    )

    e = load(spark, sf_dir, "events")
    left = e.select("event_id", "ts").limit(20)
    # right-side events a century away from every left window
    right = e.select(
        F.col("event_id").alias("rid"),
        (F.col("ts") + F.expr("INTERVAL 36500 DAYS")).alias("rts"),
    ).limit(20)
    out = banded_range_join(left, right, "ts", "rts", width_seconds=3600)
    assert out.count() == 0


def test_connected_components_no_edges(spark):
    from lambda_arc_events_filter_spark.operators.graph import (
        connected_components,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty, src="id_a", dst="id_b").count() == 0


def test_connected_components_self_loop_single_pair(spark):
    from lambda_arc_events_filter_spark.operators.graph import (
        connected_components,
    )

    one = spark.createDataFrame([(7, 9)], "id_a long, id_b long")
    rows = {
        r.node: r.label
        for r in connected_components(one, src="id_a", dst="id_b").collect()
    }
    assert rows == {7: 7, 9: 7}


def test_ancestor_rollup_forest_of_roots_only(spark):
    from lambda_arc_events_filter_spark.operators.graph import ancestor_rollup

    nodes = spark.createDataFrame(
        [(1, None, 10), (2, None, 20)], "id long, parent long, v long"
    )
    rows = {
        r.id: (r.root_id, r.depth, r.path_value)
        for r in ancestor_rollup(nodes, "id", "parent", "v").collect()
    }
    assert rows == {1: (1, 0, 10), 2: (2, 0, 20)}


def test_ancestor_rollup_deep_chain(spark):
    """A strictly linear 40-deep chain — pointer doubling must resolve it
    in its logarithmic round budget (the loop cap would strand rows
    otherwise)."""
    from lambda_arc_events_filter_spark.operators.graph import ancestor_rollup

    n = 40
    nodes = spark.createDataFrame(
        [(i, i - 1 if i > 0 else None, 1) for i in range(n)],
        "id long, parent long, v long",
    )
    rows = {
        r.id: (r.root_id, r.depth, r.path_value)
        for r in ancestor_rollup(nodes, "id", "parent", "v").collect()
    }
    for i in range(n):
        assert rows[i] == (0, i, i + 1), (i, rows[i])


def test_group_percentile_single_row_groups(spark):
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    df = spark.createDataFrame(
        [("a", 5.0), ("b", 7.0)], "k string, v double"
    )
    rows = {
        r.k: (r.p50, r.p95)
        for r in group_percentile_cont(
            df, ["k"], "v", {"p50": 0.5, "p95": 0.95}
        ).collect()
    }
    assert rows == {"a": (5.0, 5.0), "b": (7.0, 7.0)}


def test_group_percentile_rejects_reserved_names(spark):
    """Inputs or aliases that collide with the banded plan's internal
    columns must raise, not silently misbehave (round-6 ADVICE)."""
    import pytest

    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError, match="reserved"):
        group_percentile_cont(
            df.withColumn("_band", F.lit(0)), ["k"], "v", {"p50": 0.5}
        )
    with pytest.raises(ValueError, match="reserved"):
        group_percentile_cont(df, ["k"], "v", {"_rank": 0.5})
    with pytest.raises(ValueError, match="reserved"):
        group_percentile_cont(
            df,
            ["k"],
            "v",
            {"p50": 0.5},
            extra_aggs=[F.count(F.lit(1)).alias("_cnt")],
        )
    # the full reserved set — '_n' formerly slipped past the length-based
    # check and the aggregate silently vanished (ADVICE r7); also keys,
    # quantile aliases and duplicates
    for alias in ("_n", "_lo", "_rank", "k", "p50"):
        with pytest.raises(ValueError, match="alias"):
            group_percentile_cont(
                df,
                ["k"],
                "v",
                {"p50": 0.5},
                extra_aggs=[F.count(F.lit(1)).alias(alias)],
            )
    with pytest.raises(ValueError, match="alias"):
        group_percentile_cont(
            df,
            ["k"],
            "v",
            {"p50": 0.5},
            extra_aggs=[
                F.count(F.lit(1)).alias("c"),
                F.max("v").alias("c"),
            ],
        )


def test_group_percentile_band_bounds_session_cache(spark):
    """Second call over the same (input plan, column) must serve band
    boundaries from the session cache — no approxQuantile probe job."""
    from pyspark.sql.dataframe import DataFrameStatFunctions

    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(200)], "k string, v double"
    )
    first = {
        r.k: r.p50
        for r in group_percentile_cont(
            df, ["k"], "v", {"p50": 0.5}
        ).collect()
    }
    orig = DataFrameStatFunctions.approxQuantile
    DataFrameStatFunctions.approxQuantile = _raise_probe  # type: ignore
    try:
        second = {
            r.k: r.p50
            for r in group_percentile_cont(
                df, ["k"], "v", {"p50": 0.5}
            ).collect()
        }
    finally:
        DataFrameStatFunctions.approxQuantile = orig  # type: ignore
    assert first == second == {"a": 99.5}


def _raise_probe(*_a, **_k):
    raise AssertionError("approxQuantile probe ran despite cached bounds")


def test_kmeans_more_clusters_than_points(spark):
    """k exceeding the corpus must not error: every point seeds its own
    cluster and assignments are the identity."""
    from lambda_arc_events_filter_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [4.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r.vec_id: r.cluster
        for r in kmeans_lloyd(
            df, "vec_id", "embedding", k=8, iters=2
        ).collect()
    }
    assert rows == {0: 0, 1: 1, 2: 2}


def test_exact_jaccard_pairs_no_shared_shingles(spark):
    from lambda_arc_events_filter_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    d = D.with_tokens(docs).withColumn("_one", F.lit(1))
    out = D.exact_jaccard_pairs(
        d, id_col="doc_id", block_col="_one", threshold=0.1
    )
    assert out.count() == 0


def test_salted_join_empty_big_side(spark, sf_dir):
    from lambda_arc_events_filter_spark.operators.skew import salted_join

    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = salted_join(
        _empty_like(o), c, on="c_custkey", salt_col="o_orderkey"
    )
    assert out.count() == 0


def test_ancestor_rollup_cycle_raises_strict(spark):
    """A cycle can never resolve: the rollup must fail loudly instead of
    emitting root_id=NULL rows with partial accumulators."""
    import pytest as _pytest

    from lambda_arc_events_filter_spark.operators.graph import ancestor_rollup

    nodes = spark.createDataFrame(
        [(1, 2, 10), (2, 1, 20), (3, None, 30)], "id long, parent long, v long"
    )
    with _pytest.raises(ValueError, match="unresolved"):
        ancestor_rollup(nodes, "id", "parent", "v", max_depth=4).collect()


def test_group_percentile_nan_band_guard(spark):
    """NaN-bearing / all-NaN value columns: approxQuantile boundaries may
    contain NaN, which must be dropped before building the band CASE
    chain (a NaN bound makes sorted() order-unstable and the chain
    non-monotone).  The banded plan must agree value-for-value with
    Spark's builtin ``percentile``: clean groups keep exact interpolated
    quantiles, NaN-straddling groups yield NaN on both."""
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    nan = float("nan")
    rows = (
        [("a", nan)] * 50
        + [("a", 1.0), ("a", 2.0), ("a", 3.0)]
        + [("b", nan)] * 20  # all-NaN group
        + [("c", float(i)) for i in range(100)]  # clean group
    )
    df = spark.createDataFrame(rows, "k string, v double").repartition(4)

    def run(out):
        return {r.k: (r.p50, r.p90) for r in out.collect()}

    g = run(
        df.groupBy("k").agg(
            F.percentile("v", 0.5).alias("p50"),
            F.percentile("v", 0.9).alias("p90"),
        )
    )
    rg = run(
        group_percentile_cont(
            df, ["k"], "v", {"p50": 0.5, "p90": 0.9}, num_partitions=8
        )
    )
    assert set(g) == set(rg) == {"a", "b", "c"}
    for k in g:
        for a, b in zip(g[k], rg[k]):
            # NaN-tolerant equality
            assert (a != a and b != b) or abs(a - b) < 1e-9, (k, g[k], rg[k])
    # the clean group's quantiles are exact regardless of NaN elsewhere
    # (89.1 up to one interpolation ulp: 1 + 99*0.9 = 90.1 in IEEE)
    assert rg["c"][0] == 49.5
    assert abs(rg["c"][1] - 89.1) < 1e-9


def test_asof_join_same_instant_and_tiebreakers(spark):
    """ASOF <= semantics at equal timestamps: a same-instant right row IS
    visible to its left row, and among same-instant right rows the LAST by
    tiebreaker wins — the deterministic contract the operator docstring
    promises (operators/asof.py)."""
    import datetime as dt

    from lambda_arc_events_filter_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 12, 5, 0)
    left = spark.createDataFrame(
        [(1, t0), (1, t1)], "k long, t timestamp"
    )
    right = spark.createDataFrame(
        [(1, t0, "a", 1), (1, t0, "b", 2), (1, t1, "c", 1)],
        "k long, t timestamp, state string, seq int",
    )
    rows = {
        r.t: r["_asof_state"]
        for r in asof_join(
            left, right, key="k", time_col="t", value_cols=["state"],
            tiebreakers=["seq"],
        ).collect()
    }
    # t0: both same-instant rows visible, seq=2 ('b') wins the tie;
    # t1: the newer same-instant row ('c') supersedes the carry-forward
    assert rows == {t0: "b", t1: "c"}


def test_reusable_join_operators_refuse_reserved_columns(spark):
    """The interval-operator precondition discipline, extended to the other
    reusable join operators: a caller column colliding with an internal
    name must raise at plan-construction time, not be silently overwritten
    (asof_join's `_side` would come out constant-1; salted_join's `_shard`
    and banded_range_join's `_band` would vanish)."""
    import datetime as dt

    import pytest

    from lambda_arc_events_filter_spark.operators.asof import asof_join
    from lambda_arc_events_filter_spark.operators.range_join import (
        banded_range_join,
    )
    from lambda_arc_events_filter_spark.operators.skew import salted_join

    t0 = dt.datetime(2024, 1, 1)
    plain = spark.createDataFrame([(1, t0, 1.0)], "k long, t timestamp, v double")
    with_side = plain.withColumn("_side", F.lit(9))
    with pytest.raises(ValueError, match="_side"):
        asof_join(with_side, plain, key="k", time_col="t", value_cols=["v"])
    with pytest.raises(ValueError, match="_asof_time"):
        asof_join(
            plain, plain.withColumn("_asof_time", F.lit(0)),
            key="k", time_col="t", value_cols=["v"],
        )
    # a left-only value_col would union-pad to NULL on right rows and
    # carry nothing — refuse instead of emitting an all-NULL column
    with pytest.raises(ValueError, match="value_cols"):
        asof_join(
            plain.withColumn("extra", F.lit(1)), plain,
            key="k", time_col="t", value_cols=["extra"],
        )
    # value_cols colliding among themselves or with time_col (ADVICE r8):
    # each would map two different carries onto one '_asof_*' output column
    with pytest.raises(ValueError, match="time_col"):
        asof_join(plain, plain, key="k", time_col="t", value_cols=["t"])
    with pytest.raises(ValueError, match="collision"):
        asof_join(plain, plain, key="k", time_col="t", value_cols=["v", "v"])
    with pytest.raises(ValueError, match="collision"):
        asof_join(
            plain, plain.withColumn("time", F.lit(0)),
            key="k", time_col="t", value_cols=["time"],
        )
    with pytest.raises(ValueError, match="_band"):
        banded_range_join(
            plain.withColumn("_band", F.lit(0)),
            plain.select(F.col("t").alias("t2")),
            "t", "t2", 600,
        )
    with pytest.raises(ValueError, match="_shard"):
        salted_join(
            plain.withColumn("_shard", F.lit(0)),
            plain.select("k"), on="k", salt_col="t",
        )
