"""Self-test of the benchmark's recorder and metric list; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from spans import Recorder, Span, self_times, summarize  # noqa: E402


class _FakeFrame:
    def localCheckpoint(self, eager=False):
        return ("pinned", eager)


def test_recorder_catches_pin_bound_at_import():
    import emma_spark.llm.dedup as dedup
    import emma_spark.llm.pipeline as pipeline
    import emma_spark.plans.cache as cache

    orig = cache.pin
    assert dedup.pin is orig  # bound by ``from ..plans.cache import pin``
    rec = Recorder()
    assert rec.install("emma_spark.plans.cache", "pin", "plans.cache.pin") >= 3
    try:
        assert dedup.pin is not orig and pipeline.pin is dedup.pin is cache.pin
        rec.enabled = True
        assert dedup.pin(_FakeFrame()) == ("pinned", False)
        assert [s.name for s in rec.spans] == ["plans.cache.pin"]
        rec.enabled = False
        dedup.pin(_FakeFrame())
        assert len(rec.spans) == 1  # disabled wrappers record nothing
    finally:
        rec.uninstall()
    assert dedup.pin is orig and cache.pin is orig


def test_self_time_subtracts_nested_spans():
    # build [0, 10] > page_rank_int [2, 8] > two pins [3, 5] and [6, 7]
    spans = [
        Span("build", 0.0, None, end=10.0),
        Span("lib.graphs.page_rank_int", 2.0, 0, end=8.0),
        Span("plans.cache.pin", 3.0, 1, end=5.0),
        Span("plans.cache.pin", 6.0, 1, end=7.0),
    ]
    assert self_times(spans) == [4.0, 3.0, 2.0, 1.0]
    summ = summarize(spans)
    assert summ["plans.cache.pin"]["calls"] == 2
    assert summ["plans.cache.pin"]["self_s"] == 3.0
    # disjoint nesting: self times add up to the root's wall time
    assert sum(v["self_s"] for v in summ.values()) == 10.0


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span("build", 0.0, None, end=10.0),
        Span("a", 1.0, 0, end=4.0),
        Span("b", 3.0, 0, end=6.0),
        Span("c", 9.0, 0, end=12.0),  # clipped to the parent's end
    ]
    assert self_times(spans)[0] == 10.0 - 5.0 - 1.0


def test_recorder_nests_spans_by_call_stack():
    rec = Recorder()
    with rec.span("build"):
        with rec.span("pin"):
            pass
        with rec.span("pin"):
            pass
    assert [s.parent for s in rec.spans] == [None, 0, 0]
    assert all(s.end >= s.start for s in rec.spans)


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
