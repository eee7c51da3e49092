"""BENCHMARK.json agrees with what ``run.py`` reports."""

import json
import os
import re

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_the_runner():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in b["per_layer"]] == run.per_layer_names()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    for m in b["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in b["per_layer"]:
        assert m["unit"] == run._unit(m["name"])


def test_names_and_bounds_are_well_formed():
    b = _bench()
    metrics = b["end_to_end"] + b["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in b["workloads"]]
    assert all(NAME.match(n) for n in names)
    assert len(set(names)) == len(names)
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
