"""Checks of the benchmark's own inputs and metric contract; no Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import pytest

import run
from workloads import WORKLOADS

MANIFEST = run.load_manifest()
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _hash(name: str, seed: int) -> str:
    w = WORKLOADS[name](MANIFEST["workloads"][name]["sizes"], run_dir="unused")
    return w.generate(seed)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_inputs(name):
    seeds = MANIFEST["seeds"]
    assert _hash(name, seeds["default"]) == _hash(name, seeds["default"])


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_other_seed_other_inputs(name):
    seeds = MANIFEST["seeds"]
    assert _hash(name, seeds["default"]) != _hash(name, seeds["held_out"])


def test_metric_names_and_units():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.per_layer_units(WORKLOADS)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS) == set(
        MANIFEST["workloads"]
    )
    for name, unit in {**e2e, **layer}.items():
        assert NAME.fullmatch(name), name
        assert unit, name


def test_planted_truth_matches_sizes():
    sizes = MANIFEST["workloads"]["corpus_dedup"]["sizes"]
    w = WORKLOADS["corpus_dedup"](sizes, run_dir="unused")
    w.generate(MANIFEST["seeds"]["default"])
    assert len(w.data.clusters) == sizes["clusters"]
    assert all(len(c) == sizes["cluster_size"] for c in w.data.clusters)
    assert len(set(w.data.ids)) == len(w.data.ids)


def test_quantile_interpolates():
    assert run.quantile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert run.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 75) == 4.0
    assert run.quantile([7.0], 90) == 7.0
