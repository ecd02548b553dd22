"""functions/rank.py: banded global-order primitives.

Each helper is checked VALUE-FOR-VALUE against the single-partition
window it replaces, plus the plan invariant the banded path depends on:
NO range exchange and a single fact shuffle.  A leading order column
that cannot be banded (a string) raises ``ValueError``, and a repeat
build over the same derived input reuses its cached band bounds.  Edge
cases pin NULL placement (asc-first / desc-last, matching the window's
null ordering), NaN (greatest band), constant columns, timestamp/date
leading columns, and exclusive frames across band boundaries.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from lambda_arc_events_filter_spark import cache
from lambda_arc_events_filter_spark.functions.rank import (
    global_order_neighbors,
    global_order_stats,
)
from lambda_arc_events_filter_spark.plans import inspect as I


@pytest.fixture(scope="module")
def rdf(spark):
    rng = random.Random(7)
    rows = [(i, rng.randint(0, 500), rng.random()) for i in range(10_000)]
    return spark.createDataFrame(rows, "id long, v long, x double").repartition(8)


def _rows(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_rank_and_running_match_single_partition_window(rdf):
    out = global_order_stats(
        rdf.select("v", "id", "x"),
        ["v", "id"],
        rank="rk",
        running={"cum": ("v", "sum"), "mx": ("x", "max")},
    )
    w = Window.orderBy("v", "id")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = rdf.select(
        "v",
        "id",
        "x",
        F.row_number().over(w).alias("rk"),
        F.sum("v").over(wr).alias("cum"),
        F.max("x").over(wr).alias("mx"),
    )
    cols = ("v", "id", "x", "rk", "cum", "mx")
    assert _rows(out, *cols) == _rows(ref, *cols)


def test_exclusive_desc_running_min(rdf):
    out = global_order_stats(
        rdf.select("v", "id", "x"),
        [("v", "desc"), "id"],
        running={"xm": ("x", "min")},
        exclusive=True,
    )
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ref = rdf.select("v", "id", "x", F.min("x").over(w).alias("xm"))
    cols = ("v", "id", "x", "xm")
    assert _rows(out, *cols) == _rows(ref, *cols)


def test_key_join_back_carries_payload(rdf):
    out = global_order_stats(rdf, ["v", "id"], rank="rk", key=["id"])
    ref = rdf.select(
        "id", "v", "x", F.row_number().over(Window.orderBy("v", "id")).alias("rk")
    )
    cols = ("id", "v", "x", "rk")
    assert _rows(out, *cols) == _rows(ref, *cols)


def test_payload_without_key_is_rejected(rdf):
    with pytest.raises(ValueError, match="non-core"):
        global_order_stats(rdf, ["v", "id"], rank="rk")


def test_reserved_internal_names_are_rejected(rdf, spark):
    # exact internal working column as a totals alias
    with pytest.raises(ValueError, match="reserved"):
        global_order_stats(
            rdf.select("v", "id"),
            ["v", "id"],
            rank="rk",
            totals={"_orn": ("v", "sum")},
        )
    # generated-prefix namespace as a running alias (would emit _lr__lr_x)
    with pytest.raises(ValueError, match="reserved"):
        global_order_stats(
            rdf.select("v", "id"),
            ["v", "id"],
            running={"_lr_x": ("v", "sum")},
        )
    # input column landing in a generated namespace (_tt_ + alias "x")
    clash = spark.createDataFrame([(1, 2)], "v long, _tt_x long")
    with pytest.raises(ValueError, match="reserved"):
        global_order_stats(
            clash, ["v"], rank="rk", totals={"x": ("_tt_x", "sum")}
        )


def test_banded_path_single_fact_shuffle(rdf):
    """Numeric leading order column → the banded path: NO range exchange
    (boundaries are plan literals) and at most two hash exchanges — the
    fact relation's band-window shuffle plus the tiny post-partial-agg
    summary shuffle."""
    out = global_order_stats(
        rdf.select("v", "id"), ["v", "id"], rank="rk", running={"cum": ("v", "sum")}
    )
    mat, _reused = I.executed_range_exchanges(out)
    assert mat == 0, f"banded path must not range-partition, got {mat}"
    hashes = I.executed_hash_exchanges(out)
    assert hashes <= 2, f"expected ≤2 hash exchanges (fact + summary), got {hashes}"


def test_non_bandable_leading_column_raises(rdf):
    """A string leading order column has no order-preserving cast to
    double, so it cannot be cut into value bands: the helper refuses it,
    naming the column."""
    sdf = rdf.select(F.format_string("k%05d", "id").alias("s"), "id")
    with pytest.raises(ValueError, match="'s'"):
        global_order_stats(sdf, ["s", "id"], rank="rk")


def test_derived_input_reuses_band_bounds(rdf):
    """The bounds-cache key is the input plan BEFORE its localCheckpoint,
    so a second build over the same derived input probes no bounds and
    adds no cache entry."""
    derived = rdf.groupBy("v").agg(F.max("id").alias("id"))
    global_order_stats(derived, ["v", "id"], rank="rk")
    keys = set(cache._BAND_BOUNDS)
    out = global_order_stats(derived, ["v", "id"], rank="rk")
    assert set(cache._BAND_BOUNDS) == keys
    ref = derived.select(
        "v", "id", F.row_number().over(Window.orderBy("v", "id")).alias("rk")
    )
    assert _rows(out, "v", "id", "rk") == _rows(ref, "v", "id", "rk")


def test_helper_plans_have_no_empty_partition_window(rdf):
    out = global_order_stats(
        rdf.select("v", "id"), ["v", "id"], rank="rk", running={"cum": ("v", "sum")}
    )
    assert I.empty_partition_window_specs(out) == []
    out2 = global_order_neighbors(
        rdf, ["v", "id"], key=["id"], lags={"lg": ("x", 1)}
    )
    assert I.empty_partition_window_specs(out2) == []


def test_empty_partition_lint_flags_global_window(rdf):
    bad = rdf.select("v", F.row_number().over(Window.orderBy("v", "id")).alias("r"))
    assert I.empty_partition_window_specs(bad), "lint must flag the global window"


def test_bounded_frame_lag_lead_sliding(rdf):
    out = global_order_neighbors(
        rdf,
        ["v", "id"],
        key=["id"],
        lags={"lg": ("v", 2)},
        leads={"ld": ("x", 3)},
        frames={"sl": ("v", "sum", -2, 3)},
    )
    w = Window.orderBy("v", "id")
    ref = rdf.select(
        "id",
        "v",
        "x",
        F.lag("v", 2).over(w).alias("lg"),
        F.lead("x", 3).over(w).alias("ld"),
        F.sum("v").over(w.rowsBetween(-2, 3)).alias("sl"),
    )
    cols = ("id", "v", "x", "lg", "ld", "sl")
    assert _rows(out, *cols) == _rows(ref, *cols)


def test_bounded_frame_tiny_relation(spark):
    """Fewer rows than partitions: ghosts at every boundary still resolve."""
    df = spark.createDataFrame([(i, i * 10) for i in range(5)], "i long, n long")
    out = global_order_neighbors(
        df, ["i"], key=["i"], lags={"p": ("n", 1)}, leads={"q": ("n", 1)}
    )
    ref = df.select(
        "i",
        "n",
        F.lag("n").over(Window.orderBy("i")).alias("p"),
        F.lead("n").over(Window.orderBy("i")).alias("q"),
    )
    cols = ("i", "n", "p", "q")
    assert _rows(out, *cols) == _rows(ref, *cols)


def test_empty_input_yields_empty_output(spark):
    df = spark.createDataFrame([], "v long, id long")
    out = global_order_stats(df, ["v", "id"], rank="rk", running={"c": ("v", "sum")})
    assert out.count() == 0
    out2 = global_order_neighbors(
        df, ["v", "id"], lags={"p": ("v", 1)}
    )
    assert out2.count() == 0


def test_single_partition_request(rdf):
    out = global_order_stats(
        rdf.select("v", "id"), ["v", "id"], rank="rk", num_partitions=1
    )
    ref = rdf.select("v", "id", F.row_number().over(Window.orderBy("v", "id")).alias("rk"))
    assert _rows(out, "v", "id", "rk") == _rows(ref, "v", "id", "rk")


def test_running_sum_with_negative_values(spark):
    """Running sums (unlike max-of-running for totals) must be correct
    when partial sums dip negative across partition boundaries."""
    rows = [(i, (-1) ** i * (i % 97)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = global_order_stats(df, ["id"], running={"c": ("v", "sum")}, num_partitions=16)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = df.select("id", "v", F.sum("v").over(w).alias("c"))
    assert _rows(out, "id", "v", "c") == _rows(ref, "id", "v", "c")


def test_neighbors_survive_sparse_partitions(spark):
    """Regression: a lag/lead distance spanning EMPTY or under-populated
    range partitions must still resolve (the ghost-shift design this
    replaced lost neighbors more than one partition away)."""
    for n, k, parts in [(10, 3, 32), (50, 5, 32), (7, 2, 16)]:
        df = spark.createDataFrame([(i, i * 10) for i in range(n)], "i long, n long")
        out = global_order_neighbors(
            df, ["i"], key=["i"], lags={"p": ("n", k)}, num_partitions=parts
        )
        ref = df.select("i", "n", F.lag("n", k).over(Window.orderBy("i")).alias("p"))
        assert _rows(out, "i", "n", "p") == _rows(ref, "i", "n", "p"), (n, k, parts)


# ---------------------------------------------------------------------------
# Banded-path edge cases: NULLs, NaN, constant columns, desc ordering.
# The band expression must place NULLs where the window's null ordering
# does (asc: first, desc: last) and NaN in the greatest band, or offsets
# rebase whole bands wrong.
# ---------------------------------------------------------------------------


def _ref_rank(df, order_cols):
    return df.select(
        "id", F.row_number().over(Window.orderBy(*order_cols)).alias("rk")
    )


def test_banded_rank_with_nulls_asc_and_desc(spark):
    rows = [(i, None if i % 5 == 0 else float((i * 37) % 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(8)
    out = global_order_stats(
        df.select("v", "id"), ["v", "id"], rank="rk", key=None
    ).select("id", "rk")
    ref = _ref_rank(df, [F.col("v").asc(), "id"])
    assert _rows(out, "id", "rk") == _rows(ref, "id", "rk")

    out_d = global_order_stats(
        df.select("v", "id"), [("v", "desc"), "id"], rank="rk"
    ).select("id", "rk")
    ref_d = _ref_rank(df, [F.col("v").desc(), "id"])
    assert _rows(out_d, "id", "rk") == _rows(ref_d, "id", "rk")


def test_banded_rank_with_nan_and_constant(spark):
    nan = float("nan")
    rows = [(i, nan if i % 7 == 0 else float(i % 13)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(4)
    out = global_order_stats(
        df.select("v", "id"), ["v", "id"], rank="rk"
    ).select("id", "rk")
    ref = _ref_rank(df, [F.col("v").asc(), "id"])
    assert _rows(out, "id", "rk") == _rows(ref, "id", "rk")

    const = spark.createDataFrame(
        [(i, 42.0) for i in range(100)], "id long, v double"
    ).repartition(4)
    out_c = global_order_stats(
        const.select("v", "id"), ["v", "id"], rank="rk"
    ).select("id", "rk")
    ref_c = _ref_rank(const, [F.col("v").asc(), "id"])
    assert _rows(out_c, "id", "rk") == _rows(ref_c, "id", "rk")


def test_banded_rank_timestamp_and_date_leading(spark):
    import datetime

    base = datetime.datetime(2026, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=(i * 17) % 977))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, t timestamp").repartition(8)
    out = global_order_stats(
        df.select("t", "id"), ["t", "id"], rank="rk"
    ).select("id", "rk")
    ref = df.select(
        "id", F.row_number().over(Window.orderBy("t", "id")).alias("rk")
    )
    assert _rows(out, "id", "rk") == _rows(ref, "id", "rk")
    # date leading column exercises the date→timestamp→double conversion
    ddf = df.select("id", F.to_date("t").alias("d"))
    out_d = global_order_stats(
        ddf.select("d", "id"), ["d", "id"], rank="rk"
    ).select("id", "rk")
    ref_d = ddf.select(
        "id", F.row_number().over(Window.orderBy("d", "id")).alias("rk")
    )
    assert _rows(out_d, "id", "rk") == _rows(ref_d, "id", "rk")


def test_banded_running_sum_exclusive_with_nulls(spark):
    rows = [(i, None if i % 9 == 0 else (i * 13) % 50) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(8)
    out = global_order_stats(
        df.select("v", "id"),
        ["v", "id"],
        rank="rk",
        running={"cs": ("v", "sum")},
        exclusive=True,
    )
    w = Window.orderBy(F.col("v").asc(), "id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ref = df.select(
        "id",
        F.row_number().over(Window.orderBy(F.col("v").asc(), "id")).alias("rk"),
        F.sum("v").over(w).alias("cs"),
    )
    assert _rows(out, "id", "rk", "cs") == _rows(ref, "id", "rk", "cs")


def test_count_frame_empty_frame_is_zero(spark):
    """COUNT over a frame that is entirely out of range (frame (-3, -1)
    on the first rows of the order) is 0, never NULL: those rows have no
    fan rows at all, so the frame left join yields NULL and the helper
    must coalesce count-kind aggregates to 0 (window semantics).
    sum/avg/min/max stay NULL over an empty frame.  A NULL value inside
    an otherwise-populated frame is not counted (count(col) counts
    non-null values only)."""
    rows = [(i, None if i == 2 else float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "i long, x double").repartition(4)
    out = global_order_neighbors(
        df,
        ["i"],
        key=["i"],
        frames={"c": ("x", "count", -3, -1), "s": ("x", "sum", -3, -1)},
    )
    w = Window.orderBy("i").rowsBetween(-3, -1)
    ref = df.select(
        "i",
        F.count("x").over(w).alias("c"),
        F.sum("x").over(w).alias("s"),
    )
    got = {r.i: (r.c, r.s) for r in out.collect()}
    exp = {r.i: (r.c, r.s) for r in ref.collect()}
    assert got == exp
    assert got[0] == (0, None)  # fully-empty frame: count 0, sum NULL
    assert got[1] == (1, 0.0)
    assert got[3] == (2, 1.0)  # NULL x at i=2 inside frame: not counted
