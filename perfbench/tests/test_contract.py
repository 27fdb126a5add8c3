"""BENCHMARK.json names what the benchmark prints.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402
from perfbench.run import per_layer_units  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_metrics_match_the_traced_output():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == per_layer_units()


def test_workloads_exist_and_bounds_are_in_range():
    bench = _bench()
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
