"""The bench driver-contract line must stay machine-readable: the driver
captures only the final ~2000 chars of stdout and json-parses the LAST
line.  Rounds 4-5 lost their artifact when the line outgrew that window —
this pins the format and the overflow fallbacks.

bench.py mutates env defaults at import (shuffle width, AQE) which must
not leak into this process's session fixtures, so the import happens in a
subprocess.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_PROBE = """
import json, sys
sys.path.insert(0, {root!r})
import bench

def fake(n, t):
    # n == 39 is the real headline; larger sets are synthetic long names
    names = bench.HEADLINE if n == len(bench.HEADLINE) else [
        f"q{{i:03d}}_some_rather_long_query_name" for i in range(n)]
    timings = {{name: t for name in names}}
    compute = {{k: t * 0.9 for k, t in timings.items()}}
    duck = {{k: t * 0.8 for k in timings}}
    return bench.contract_line(timings, round(sum(timings.values()), 4),
                               compute, "0.1", duck,
                               floors={{"collect": 0.02, "toPandas": 0.05}},
                               arrow=sorted(bench._ARROW_RESULTS),
                               parallelism={{"cpus_effective": 4,
                                            "shuffle_partitions": 16}})

for n in (39, 200, 2000):
    line = fake(n, 0.123456)
    assert len(line) <= 1800, (n, len(line))
    obj = json.loads(line)
    assert obj["metric"] == "headline_queries_total_wall"
    assert obj["unit"] == "sec"
    assert obj["sf"] == 0.1
    assert isinstance(obj["value"], float)
    assert isinstance(obj["compute_only_total"], float)
    # same-session ratio: both totals over the same query set
    assert abs(obj["ratio"] - obj["value"] / obj["duck_total"]) < 1e-3
    assert obj["cpus_effective"] == 4 and obj["shuffle_partitions"] == 16
    # the frozen-recording normalizer and its validity flag are gone
    assert not {{"host_normalizer", "normalized_total", "host_normalizer_b",
                "canary_split_pct", "disturbed"}} & set(obj)
    print(n, len(line), "queries" in obj)

# every headline query has an oracle, so duck_total always sums the same
# query set as value
specs = bench.specs()
assert [n for n in bench.HEADLINE if specs[n].oracle is None] == []

# compute-only derivability (r12 ask #7): floor + arrow in the contract
# line make the floor-subtracted per-query map reconstructible even when
# the explicit map degrades out of the budget
timings = {{"q_small": 0.5, "q_big_arrow": 2.0}}
compute = {{"q_small": 0.48, "q_big_arrow": 1.95}}
line = bench.contract_line(timings, 2.5, compute, "0.1",
                           {{"q_small": 0.1, "q_big_arrow": 0.4}},
                           floors={{"collect": 0.02, "toPandas": 0.05}},
                           arrow=["q_big_arrow"])
obj = json.loads(line)
assert obj["floor"] == {{"collect": 0.02, "toPandas": 0.05}}
assert obj["arrow"] == ["q_big_arrow"]
assert obj["duck_total"] == 0.5 and obj["ratio"] == 5.0
assert obj["value"] == 2.5  # raw wall untouched
# small filtered run: the explicit compute-only map also fits
assert obj["queries_compute_only"] == {{"q_small": 0.48, "q_big_arrow": 1.95}}
for q in timings:
    fl = obj["floor"]["toPandas" if q in obj["arrow"] else "collect"]
    derived = max(0.0, obj["queries"][q] - fl)
    assert abs(derived - compute[q]) < 0.051  # wall-floor ~= measured
print("floor_arrow", len(line), True)
"""


def test_contract_line_parses_and_never_overflows():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=root)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l.split() for l in out.stdout.strip().splitlines()]
    assert ["floor_arrow"] == [l[0] for l in lines if not l[0].isdigit()]
    # 39-query headline keeps the per-query map; a 2000-query set must
    # drop it rather than overflow the driver window
    by_n = {
        int(n): (int(length), has_q)
        for n, length, has_q in lines
        if n.isdigit()
    }
    assert by_n[39][1] == "True"
    assert by_n[2000][1] == "False"
    assert all(length <= 1800 for length, _ in by_n.values())


def test_recorded_bench_artifacts_parsed_not_null():
    """The driver's BENCH_r*.json records {tail, parsed}; `parsed` is its
    json-parse of bench's final stdout line.  From round 6 on it must be
    a non-null contract object (rounds 4-5 are the known-broken ones the
    split-line format fixed)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = 0
    for name in sorted(os.listdir(root)):
        if not (name.startswith("BENCH_r") and name.endswith(".json")):
            continue
        round_no = int(name[7:9])
        if round_no < 6:
            continue
        art = json.load(open(os.path.join(root, name)))
        parsed = art.get("parsed")
        assert isinstance(parsed, dict), (name, parsed)
        assert parsed.get("metric") == "headline_queries_total_wall", name
        checked += 1
    assert checked >= 1
