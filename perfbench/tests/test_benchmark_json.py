"""``BENCHMARK.json`` and the metric catalogue the runner reports agree."""

from __future__ import annotations

import json
import os

from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_the_runner():
    b = _bench()
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == [
        (k, u, d) for k, (u, d) in END_TO_END.items()]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (k, m["unit"], m["better"]) for k, m in PER_LAYER.items()]
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def test_every_layer_metric_names_its_workloads():
    for name, m in PER_LAYER.items():
        if m["moves"] is None:
            continue
        assert m["moves"] in END_TO_END or m["moves"] in PER_LAYER, name
        assert all(w.strip() in WORKLOADS for w in m["on"].split(",")), name
