"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
from types import SimpleNamespace

import pytest

import run
from stats import tail_percentile
from tracing import Span, Tracer, self_times

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("n", [11, 12, 19, 20, 21, 37, 40, 99, 100, 101, 250])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
    p, value, beyond = tail_percentile(samples)

    def beyond_of(q):
        return n - max(1, math.ceil(q * n / 100))

    assert beyond == beyond_of(p) >= 10
    assert beyond_of(p + 1) < 10
    assert value == sorted(samples)[n - beyond - 1]


def test_tail_known_values():
    assert tail_percentile([float(i) for i in range(1, 21)]) == (50, 10.0, 10)
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90, 90.0, 10)


def test_tail_with_too_few_samples_is_the_minimum():
    assert tail_percentile([3.0, 1.0, 2.0]) == (0, 1.0, 2)
    assert tail_percentile([float(i) for i in range(10)]) == (0, 0.0, 9)
    # continuous across the threshold: 11 samples also give the minimum
    assert tail_percentile([float(i) for i in range(11)]) == (9, 0.0, 10)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 1),
        Span(1, "build", 1.0, 3.0, 0, 1),
        Span(2, "job", 2.0, 5.0, 0, 1),  # overlaps build: counted once
        Span(3, "action", 8.0, 12.0, 0, 1),  # clipped at the parent's end
        Span(4, "phase", 1.5, 2.5, 1, 1),  # grandchild: only build's
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_shares_the_op_id():
    tr = Tracer()
    with tr.span("op", op=7):
        with tr.span("registry.build"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and inner.op == outer.op == 7
    added = tr.add("catalyst.analysis", inner.start, inner.end, 7)
    assert added.parent == inner.sid
    off = Tracer(enabled=False)
    with off.span("op", op=1):
        pass
    assert off.spans == []


def _fake_window(n):
    return {"lat": [1.0] * n, "ops_per_s": 1.0, "wall_s": float(n),
            "python_cpu_s": 0.5}


def test_end_to_end_names_match_benchmark_json():
    metrics, tail = run.e2e_metrics(20.0, _fake_window(12), 14, 0, 100.0)
    assert list(metrics) == [m["name"] for m in SPEC["end_to_end"]]
    assert tail["samples"] == 12 and metrics["ok_ops_frac"] == 1.0


def test_per_layer_names_match_benchmark_json():
    progress = SimpleNamespace(
        durationMs={"triggerExecution": 5, "addBatch": 3}, numInputRows=10,
        stateOperators=[SimpleNamespace(numRowsTotal=4, memoryUsedBytes=64)])
    stage = {"tasks": 2, "run_ms": 10, "cpu_ms": 5.0, "gc_ms": 0, "input_bytes": 1,
             "input_records": 1, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
             "spill_bytes": 0, "sched_delay_ms": 1.0, "skew": 1.5}
    ops = [
        {"name": "fanout", "op_id": 0, "eager_jobs": 0, "pinned_rdds_delta": 0,
         "pinned_bytes_delta": 0, "phases": [("planning", 1, 3)],
         "jobs": [{"submit_ms": 1, "end_ms": 4, "stages": [stage]}],
         "udf_s": 0.0, "udf_calls": 0, "jvm_cpu_s": 0.1, "progress": [],
         "report": {"total_query_time_sec": 0.8, "read_ops": 8, "read_bytes": 9,
                    "read_records": 10}, "plan_hits": 1.0},
        {"name": "stream_tumbling_wm", "op_id": 1, "eager_jobs": 1,
         "pinned_rdds_delta": 0, "pinned_bytes_delta": 0, "phases": [], "jobs": [],
         "udf_s": 0.1, "udf_calls": 3, "jvm_cpu_s": 0.1, "progress": [progress],
         "report": None, "plan_hits": None},
    ]
    spans = [Span(0, "op", 0.0, 1.0, None, 0), Span(1, "runner.run", 0.1, 0.9, 0, 0),
             Span(2, "op", 1.0, 2.0, None, 1), Span(3, "registry.build", 1.0, 1.5, 2, 1),
             Span(4, "exec.action", 1.5, 2.0, 2, 1)]
    session = {"build_s": 9.0, "first_op_s": 4.0, "jvm_peak_rss_mb": 900.0}
    metrics = run.layer_metrics(ops, spans, session, _fake_window(2), _fake_window(2))
    assert sorted(metrics) == sorted(m["name"] for m in SPEC["per_layer"])
    assert metrics["runner.report_s"] == pytest.approx(0.2)
    assert metrics["registry.build_share"] == pytest.approx(0.5)
    assert metrics["streaming.state_rows"] == pytest.approx(2.0)


def test_benchmark_json_declares_the_runnable_workloads():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    for w in SPEC["workloads"]:
        assert w["name"] in run.MIXES
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s")
