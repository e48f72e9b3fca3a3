"""BENCHMARK.json lists exactly the metrics the benchmark prints, within the
limits its format allows."""

import json
import os
import re

import harness as H
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _doc():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_the_harness():
    doc = _doc()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]] \
        == [tuple(m) for m in H.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == [tuple(m) for m in H.PER_LAYER]
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)


def test_format_limits():
    doc = _doc()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]] + \
        [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in doc["end_to_end"] + doc["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    assert max(m["bound"] for m in doc["end_to_end"]) == next(
        m["bound"] for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])
    assert 1 <= doc["run_seconds"] <= 60 and 2 <= len(doc["workloads"]) <= 8


def test_why_sentences_match_the_workloads():
    whys = {w["name"]: w["why"] for w in _doc()["workloads"]}
    assert whys == {name: run._workload_class(name).why for name in run.WORKLOADS}
