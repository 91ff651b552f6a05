"""BENCHMARK.json names exactly the workloads and metrics run.py prints."""

import json

from perfbench import run
from perfbench.workloads import WORKLOADS

BENCH = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def test_workloads_are_the_runnable_ones():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    for w in BENCH["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


def test_metrics_are_the_printed_ones():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.per_layer_units()
    assert len(BENCH["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
