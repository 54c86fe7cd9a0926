"""BENCHMARK.json lists exactly the workloads and metrics run.py produces."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import MODULES, WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_workloads_match():
    assert [(w["name"], w["why"]) for w in SPEC["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END_UNITS
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_metrics_match():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.layer_units()


def test_every_workload_module_is_a_layer():
    import importlib

    sys.path.insert(0, os.path.dirname(HERE))
    registry = importlib.import_module(f"{run.PKG}.registry")
    queries = registry.all_queries()
    for w in WORKLOADS.values():
        for name in w.queries:
            assert run._module_of(queries[name]) in MODULES, name
    covered = {run._module_of(queries[q]) for w in WORKLOADS.values() for q in w.queries}
    assert covered == set(MODULES)
