from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambda_arc_events_filter_spark.session import fixture_conf, get_spark  # noqa: E402
from lambda_arc_events_filter_spark.testing import duck_connection  # noqa: E402

# Small SF for fast unit runs; the driver's own gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Fixture-scale dedup pipeline width (see operators/dedup.py — the
# library default is cluster parallelism; the toy value is a harness
# opt-in).
os.environ.setdefault("SPARK_GRAFT_DEDUP_PARTITIONS", "4")


@pytest.fixture(scope="session")
def spark():
    yield get_spark("tests", extra_conf=fixture_conf())


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()
