"""Tests for the benchmark harness's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_bench_helpers.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import run  # noqa: E402
from harness import Job, Span  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 201))  # 200 samples: p99 leaves 2, p95 leaves 10
    assert harness.tail_percentile(xs) == (95, 190)
    # one sample fewer and p95 would leave 9: fall back to p90
    assert harness.tail_percentile(xs[:199]) == (90, 180)
    assert harness.tail_percentile(list(range(40))) == (75, 29)
    assert harness.tail_percentile(list(range(15))) is None
    for n in range(1, 300):
        got = harness.tail_percentile(list(range(n)))
        if got is not None:
            assert n - (got[1] + 1) >= 10


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: covered once
        Span(3, "a.inner", 2.0, 3.0, parent=1),
        Span(4, "late", 9.0, 12.0, parent=0),  # clipped to the parent
    ]
    st = harness.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_jobs_attributed_to_innermost_span_by_submission_time():
    spans = [
        Span(0, "op", 0.0, 5.0),
        Span(1, "layer", 1.0, 2.0, parent=0),
        Span(2, "op", 6.0, 9.0),
    ]
    jobs = [Job(0, 1.5), Job(1, 3.0), Job(2, 7.0), Job(3, 5.5), Job(4, 2.0)]
    owned = harness.attribute_jobs(jobs, spans)
    assert [j.id for j in owned[1]] == [0, 4]
    assert [j.id for j in owned[0]] == [1]
    assert [j.id for j in owned[2]] == [2]
    assert sorted(j.id for j in harness.jobs_under(0, spans, owned)) == [0, 1, 4]


def test_trace_view_refuses_a_layer_that_recorded_no_span():
    spans = [Span(0, "op", 0.0, 4.0), Span(1, "layer", 1.0, 2.0, parent=0)]
    view = harness.TraceView(spans, [Job(0, 1.5), Job(1, 3.0)])
    assert view.mean_ms("layer") == pytest.approx(1000)
    assert view.self_ms("op") == pytest.approx(3000)
    assert view.mean_jobs("op") == 2 and view.mean_jobs("layer") == 1
    with pytest.raises(LookupError):
        view.total_s("unwrapped.layer")


def test_read_event_log_sums_task_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1, 2]},  # stage 1 is a skipped parent here
    ]
    for stage, n in ((0, 2), (1, 1), (2, 3)):
        for _ in range(n):
            events.append({
                "Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {
                    "JVM GC Time": 1, "Memory Bytes Spilled": 2, "Disk Bytes Spilled": 3,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                    "Input Metrics": {"Records Read": 100},
                    "Output Metrics": {"Bytes Written": 7},
                },
            })
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("".join(json.dumps(e) + "\n" for e in events))
    j0, j1 = harness.read_event_log(str(d))
    assert (j0.submit, j0.stages, j0.tasks, j0.gc_ms) == (1.5, 2, 3, 3)
    assert (j0.spill_bytes, j0.shuffle_write_bytes, j0.input_rows) == (15, 30, 300)
    assert (j1.stages, j1.tasks, j1.output_bytes) == (1, 3, 21)


def test_key_stream_is_seeded_with_fixed_route_mix():
    catalogs = {"a": list(range(50)), "b": ["x", "y"], "c": [None]}
    weights = {"a": 3, "b": 1, "c": 1}
    s1 = harness.key_stream(catalogs, weights, 500, seed=7)
    assert s1 == harness.key_stream(catalogs, weights, 500, seed=7)
    assert s1 != harness.key_stream(catalogs, weights, 500, seed=8)
    for i in range(0, 500, 5):
        block = [r for r, _ in s1[i:i + 5]]
        assert (block.count("a"), block.count("b"), block.count("c")) == (3, 1, 1)
    # Zipf: popular keys repeat, rare ones may never appear
    share = harness.repeat_share(s1)
    assert 0.5 < share < 1.0
    assert harness.repeat_share([1, 1, 2, 3]) == 0.25
    assert harness.repeat_share([]) == 0.0


def test_tracer_spans_nest_and_wrappers_restore():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    t = harness.Tracer()
    t.wrap(Owner, "f", "layer.f")
    assert Owner.f(1) == 2 and t.spans == []  # disabled: nothing recorded
    t.enabled = True
    with t.span("op", root=True):
        Owner.f(1)
    with t.span("op", root=True):
        Owner.f(2)
    t.unwrap_all()
    assert not hasattr(Owner.f, "__wrapped__")
    names = [(s.name, s.parent, s.req) for s in t.spans]
    assert names == [("op", None, 1), ("layer.f", 0, 1), ("op", None, 2), ("layer.f", 2, 2)]


def test_run_window_runs_a_fixed_op_range_and_marks_cold_keys():
    ops = harness.run_window(lambda i: (i % 4, i != 5), 8, start=2)
    assert [o.key for o in ops] == [2, 3, 0, 1, 2, 3, 0, 1]
    assert [o.cold for o in ops] == [True] * 4 + [False] * 4
    assert [o.ok for o in ops].count(False) == 1


def test_metric_names_and_benchmark_json_agree():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E
    assert layer == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    harness.check_metric_names([*e2e, *layer])
    with pytest.raises(ValueError):
        harness.check_metric_names(["bad name"])
