"""BENCHMARK.json names exactly the metrics the benchmark reports."""

from __future__ import annotations

import json
import os

import run
from spans import PER_LAYER, layer_metrics

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def _spec():
    with open(SPEC) as f:
        return json.load(f)


def test_end_to_end_names_and_units():
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert spec == run.END_TO_END


def test_per_layer_names_and_units():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert spec == PER_LAYER


def test_workloads_match():
    assert {w["name"] for w in _spec()["workloads"]} == set(run.WORKLOADS)


def test_layer_metrics_cover_every_name_without_spans():
    extra = {k: 0.0 for k in ("blocks.bytes", "cache.hits", "cache.misses",
                              "cache.hit_ratio", "delta_store.segments",
                              "delta_store.write_amp", "trace.search_p50_s",
                              "trace.self_s", "build.stage_docs_s",
                              "build.stage_postings_s", "build.stage_termstats_s")}
    assert set(layer_metrics([], [], extra)) == set(PER_LAYER)
