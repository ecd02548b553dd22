"""Adversarial correctness of the chunked interval-overlap operator
(operators/interval.py) against an in-process brute force: the oracle
sweeps exercise organic data, but the dangerous inputs are intervals whose
bounds land EXACTLY on cell edges (the canonical-cell uniqueness proof
must hold with ties), zero-length intervals, containment, and zero-match
left intervals."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from lambda_arc_events_filter_spark.operators.interval import (
    interval_overlap_count,
)

_EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(seconds=seconds)


def _brute(a_rows, b_rows):
    out = {}
    for aid, s, e in a_rows:
        out[(aid, s)] = sum(1 for _bid, bs, be in b_rows if s <= be and bs <= e)
    return out


def _run(spark, a_rows, b_rows, cell_s=600):
    a = spark.createDataFrame(
        [(aid, _ts(s), _ts(e)) for aid, s, e in a_rows],
        "aid long, a_start timestamp, a_end timestamp",
    )
    b = spark.createDataFrame(
        [(bid, _ts(s), _ts(e)) for bid, s, e in b_rows],
        "bid long, b_start timestamp, b_end timestamp",
    ) if b_rows else spark.createDataFrame(
        [], "bid long, b_start timestamp, b_end timestamp"
    )
    got = {
        (r.aid, r.a_start): r.n_matches
        for r in interval_overlap_count(
            a, b, a_keys=("aid", "a_start"), cell_s=cell_s
        ).collect()
    }
    want = {
        (aid, _ts(s)): n for (aid, s), n in _brute(a_rows, b_rows).items()
    }
    assert got == want


def test_cell_edge_and_touching_bounds(spark):
    """Bounds exactly on 600 s cell edges, intervals touching end-to-start
    (closed bounds → they DO overlap), and zero-length intervals."""
    a_rows = [
        (1, 0, 600),        # spans exactly one cell boundary
        (2, 600, 600),      # zero-length, exactly ON a boundary
        (3, 1200, 1800),    # both bounds on boundaries
        (4, 5000, 5400),    # no incident anywhere near
    ]
    b_rows = [
        (10, 600, 1200),    # touches a1 at 600 (closed: overlap), a3 at 1200
        (11, 1800, 2400),   # touches a3 at 1800
        (12, 0, 0),         # zero-length at origin, inside a1
    ]
    _run(spark, a_rows, b_rows)


def test_containment_and_multi_cell_spans(spark):
    a_rows = [(1, 100, 3100), (2, 900, 1000)]
    b_rows = [
        (10, 0, 4000),     # contains both
        (11, 950, 960),    # inside both
        (12, 3100, 3100),  # touches a1's end exactly
    ]
    _run(spark, a_rows, b_rows)


def test_empty_right_side_yields_zero_counts(spark):
    _run(spark, [(1, 0, 100), (2, 700, 800)], [])


def test_descending_interval_is_loud(spark):
    """A reversed interval (start > end) violates the documented
    precondition; it must RAISE, not silently drop matches (ADVICE r7 /
    VERDICT r7 ask #5)."""
    from pyspark.errors import PySparkException

    a = spark.createDataFrame(
        [(1, _ts(1800), _ts(0))],  # descending, crosses cell boundaries
        "aid long, a_start timestamp, a_end timestamp",
    )
    b = spark.createDataFrame(
        [(10, _ts(0), _ts(600))],
        "bid long, b_start timestamp, b_end timestamp",
    )
    df = interval_overlap_count(a, b, a_keys=("aid",))
    with pytest.raises(PySparkException, match="descending interval"):
        df.collect()


def test_null_bounds_keep_legacy_drop_semantics(spark):
    """NULL start/end rows are dropped by the explode (legacy behavior) —
    the descending-interval guard must not turn them into raises."""
    a = spark.createDataFrame(
        [(1, _ts(0), _ts(600)), (2, None, _ts(600)), (3, _ts(0), None)],
        "aid long, a_start timestamp, a_end timestamp",
    )
    b = spark.createDataFrame(
        [(10, _ts(0), _ts(600))],
        "bid long, b_start timestamp, b_end timestamp",
    )
    got = {
        r.aid: r.n_matches
        for r in interval_overlap_count(a, b, a_keys=("aid",)).collect()
    }
    assert got == {1: 1}


def test_structural_preconditions_raise_at_plan_time(spark):
    a = spark.createDataFrame(
        [(1, _ts(0), _ts(600))],
        "aid long, a_start timestamp, a_end timestamp",
    )
    b = spark.createDataFrame(
        [(10, _ts(0), _ts(600))],
        "bid long, b_start timestamp, b_end timestamp",
    )
    with pytest.raises(ValueError, match="_cell"):
        interval_overlap_count(
            a.withColumn("_cell", a.aid), b, a_keys=("aid",)
        )
    with pytest.raises(ValueError, match="disjoint"):
        interval_overlap_count(
            a, b.withColumnRenamed("bid", "aid"), a_keys=("aid",)
        )


@pytest.mark.parametrize("seed", [7, 23])
def test_randomized_against_brute_force(spark, seed):
    rng = random.Random(seed)
    # bounds biased toward exact cell multiples to stress the tie paths
    def bound():
        base = rng.randrange(0, 8) * 600
        return base + rng.choice([0, 0, 1, 299, 599])

    a_rows = []
    for i in range(25):
        s = bound()
        a_rows.append((i, s, s + rng.choice([0, 60, 600, 1800])))
    b_rows = []
    for i in range(25):
        s = bound()
        b_rows.append((100 + i, s, s + rng.choice([0, 30, 600])))
    _run(spark, a_rows, b_rows)
