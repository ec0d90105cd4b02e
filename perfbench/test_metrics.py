"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import workloads
from perfbench.metrics import (
    NAME_RE,
    Tracer,
    _ppid_and_name,
    check_name,
    parse_sql_metric,
    self_times,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "name": "run", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 3.0, "parent": 0},
        {"id": 2, "name": "b", "start": 2.0, "end": 5.0, "parent": 0},  # overlaps a
        {"id": 3, "name": "c", "start": 9.0, "end": 12.0, "parent": 0},  # outlives run
        {"id": 4, "name": "d", "start": 2.5, "end": 3.5, "parent": 2},
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 4 - 1)
    assert own[2] == pytest.approx(3 - 1)
    assert own[3] == pytest.approx(3)


def test_tracer_records_nested_spans_only_when_enabled():
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
    on = Tracer(enabled=True)
    with on.span("outer"):
        with on.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in on.spans] == [("outer", None), ("inner", 0)]
    assert set(on.self_time_by_name()) == {"outer", "inner"}


@pytest.mark.parametrize("text, value", [
    ("total (min, med, max (stageId: taskId))\n49.2 MiB (12.0 MiB, 12.3 MiB, 12.5 MiB (stage 3.0: task 12))",
     49.2 * 2**20),
    ("total (min, med, max (stageId: taskId))\n6.4 s (1.1 s, 1.3 s, 1.3 s (stage 2.0: task 2))", 6.4),
    ("total (min, med, max (stageId: taskId))\n120 ms (10 ms, 40 ms, 70 ms (stage 2.0: task 2))", 0.12),
    ("total (min, med, max (stageId: taskId))\n1.5 m (1.5 m, 1.5 m, 1.5 m (stage 2.0: task 2))", 90.0),
    ("0.0 B", 0.0),
    ("138.0 B", 138.0),
    ("20,000", 20000.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "total (min, med, max)\n3 parsecs"])
def test_parse_sql_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


def test_metric_names():
    for name in [*workloads.END_TO_END, *workloads.PER_LAYER]:
        assert check_name(name) == name
    for bad in ["", ".x", "a b", "x" * 65, "ops/s"]:
        assert not NAME_RE.fullmatch(bad)
        with pytest.raises(ValueError):
            check_name(bad)


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_proc_stat_parsing_keeps_names_with_parentheses():
    assert _ppid_and_name("4711 (java) S 4700 4711 1 0 -1") == (4700, "java")
    assert _ppid_and_name("12 (a) (b)) R 3 12 1 0 -1") == (3, "a) (b)")
