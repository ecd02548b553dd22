"""The driver contract's check-window order (``__spark_entry__``).

The driver checks a bounded prefix of ``queries()`` per round, so the
order is part of the contract.  It is derived in ``__spark_entry__`` from
the CORRECTNESS_r*.json artifacts; the library registry itself returns
registration order and reads no files.
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as E

_ORDER_FILE = os.path.join(os.path.dirname(__file__), "entry_order.txt")


def test_queries_keep_check_window_order():
    """``queries()`` keeps the window order recorded in entry_order.txt,
    and ``oracle_sql()`` follows the same order.  After registering a
    query or adding a CORRECTNESS artifact, review the new order and
    rewrite the file with
    ``python -c "import __spark_entry__ as e; print(*e.queries(), sep=chr(10))" > tests/entry_order.txt``."""
    with open(_ORDER_FILE) as f:
        expected = f.read().split()
    names = list(E.queries())
    assert names == expected
    oracles = list(E.oracle_sql())
    assert oracles == [n for n in names if n in set(oracles)]


def test_registry_specs_are_registration_ordered():
    """The registry applies no driver ordering of its own."""
    from lambda_arc_events_filter_spark import registry as R

    assert list(R.specs()) == list(R._REGISTRY)


def test_registry_window_reprioritizes_reds(tmp_path, monkeypatch):
    """A query red in its latest driver check must sort AHEAD of
    never-checked queries; greens sort stalest-first behind them."""
    art = {
        "green_r1": {"rows_match": True, "schema_match": True,
                     "hash_match": True, "err": None},
        "red_r1": {"rows_match": True, "schema_match": True,
                   "hash_match": False, "err": None},
        "rows_only_r1": {"rows_match": None, "schema_match": None,
                         "hash_match": None, "err": "no_oracle"},
        "fixed_r2": {"rows_match": False, "schema_match": True,
                     "hash_match": False, "err": None},
    }
    art2 = {
        "fixed_r2": {"rows_match": True, "schema_match": True,
                     "hash_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(art))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(art2))

    monkeypatch.setattr(E, "_ROOT", tmp_path)
    last, red = E._driver_checked()
    assert red == {"red_r1"}, red
    assert last["fixed_r2"] == 2  # green in its LATEST check
    assert last["rows_only_r1"] == 1  # no_oracle is not red
