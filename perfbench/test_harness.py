"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The smoke runs start a Spark session per run (about a minute each);
``-m "not smoke"`` skips them.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench.run import (
    DEFAULT_SEED,
    END_TO_END,
    HELD_OUT_SEED,
    PER_LAYER,
    measure,
    run_op,
)
from perfbench.stats import OpCounter, percentile, summarize, supported_percentile
from perfbench.trace import Span, Tracer, op_layer_metrics, self_times, traced_layers

ROOT = Path(__file__).resolve().parent.parent


# ---- percentile sample-count rule -----------------------------------------

@pytest.mark.parametrize(
    "n,expected",
    [(1, None), (19, None), (20, 50), (30, 66), (99, 89), (100, 90), (1000, 99), (10**6, 99)],
)
def test_supported_percentile(n, expected):
    assert supported_percentile(n) == expected


def test_supported_percentile_leaves_ten_beyond():
    for n in range(20, 400):
        p = supported_percentile(n)
        assert n * (100 - p) >= 10 * 100  # ten samples beyond p
        if p < 99:
            assert n * (100 - p - 1) < 10 * 100


def test_summarize_reports_tail_only_when_supported():
    few = summarize([3.0, 1.0, 2.0])
    assert few == {"n": 3, "p50": 2.0, "tail_pct": None, "tail": None}
    many = summarize([float(x) for x in range(1, 101)])
    assert many["p50"] == 50.5
    assert many["tail_pct"] == 90
    assert many["tail"] == pytest.approx(percentile(list(range(1, 101)), 90))
    assert many["tail"] == pytest.approx(90.1)


# ---- self time from overlapping child spans --------------------------------

def _span(i, parent, start, end, name="x"):
    return Span(span_id=i, name=name, parent_id=parent, request_id=0, start=start, end=end)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps child 1: [1, 6) covered once
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped to [8, 10)
        _span(4, 1, 1.5, 2.0),   # grandchild: only child 1 loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(0.5)


def test_op_layer_metrics_self_times_and_counters():
    ticks = iter([0.0, 1.0, 2.0, 3.0, 5.0, 6.0, 6.0, 7.0, 7.5, 9.0])
    tr = Tracer(clock=lambda: next(ticks))
    with tr.span("op", request_id=7) as root:          # 0 .. 9
        with tr.span("posting"):                         # 1 .. 6
            with tr.span("posting.idf_map"):             # 2 .. 3
                pass
            with tr.span("posting.idf_map"):             # 5 .. 6
                pass
        with tr.span("scoring"):                         # 7 .. 7.5
            pass
    tr.spans[1].counters.update(jobs=2, tasks=8, failed_tasks=0)
    tr.spans[2].counters.update(jobs=1, tasks=4, failed_tasks=1)
    m = op_layer_metrics(tr.spans, root)
    assert m["trace.glue_s"] == pytest.approx(9 - 5 - 0.5)
    assert m["posting.s"] == pytest.approx(5 - 1 - 1)
    assert m["posting.idf_map_s"] == pytest.approx(2)
    assert m["scoring.s"] == pytest.approx(0.5)
    assert m["posting.jobs"] == 3 and m["posting.failed_tasks"] == 1
    assert all(s.request_id == 7 for s in tr.spans)


def test_traced_layers_spans_each_call_and_restores():
    import types

    mod = types.SimpleNamespace(prep=lambda x: x + 1, score=lambda x: x * 2)

    def wiring(x):  # calls the layers the way a plan module does
        return mod.score(mod.prep(x))

    tr = Tracer()
    with tr.span("op") as root:
        with traced_layers(mod, {"prep": "pipeline.prepare", "score": "scoring"}, tr):
            assert wiring(3) == 8
    assert [(s.name, s.parent_id) for s in tr.spans] == [
        ("op", None), ("pipeline.prepare", root.span_id), ("scoring", root.span_id)
    ]
    assert set(op_layer_metrics(tr.spans, root)) == {
        "trace.glue_s", "pipeline.prepare_s", "scoring.s"
    }
    assert wiring(3) == 8 and len(tr.spans) == 3  # originals are back


# ---- failed_frac counting --------------------------------------------------

class FakeWorkload:
    """op i: raises when i % 4 == 1, fails its check when i % 4 == 2."""

    def __init__(self, n_inputs=8, check_s=0.0):
        self.n_inputs = n_inputs
        self.check_s = check_s
        self.released = 0

    def has_input(self, i):
        return i < self.n_inputs

    def op(self, i):
        if i % 4 == 1:
            raise RuntimeError("injected")
        return i, 10

    def traced_op(self, i, tracer):
        with tracer.span("posting"):
            out, items = self.op(i)
        return out, items, lambda: {"posting.vocab": 3}

    def check(self, out):
        time.sleep(self.check_s)
        return out % 4 != 2

    def release(self):
        self.released += 1


def test_failed_ops_count_against_attempted():
    wl, counter = FakeWorkload(), OpCounter()
    results = [run_op(wl, i, counter)[0] for i in range(8)]
    assert counter.attempted == 8
    assert counter.failed == 4  # two raised, two missed their check
    assert counter.failed_frac == 0.5
    assert [r is None for r in results] == [False, True, True, False] * 2
    assert wl.released == 8  # released whether or not the op succeeded
    with pytest.raises(ValueError):
        OpCounter().failed_frac


def test_measure_alternates_traced_ops():
    wl, counter = FakeWorkload(n_inputs=8), OpCounter()
    plain, traced = measure(wl, 0.0, counter, Tracer())
    # window already over: stops once each kind has one success
    assert (len(plain), len(traced)) == (1, 1)
    assert traced[0][2]["posting.vocab"] == 3
    assert counter.attempted == counter.failed + len(plain) + len(traced)


def test_window_counts_operation_time_only():
    # instant operations, slow checks: the 0.05 s window is never used up
    wl, counter = FakeWorkload(n_inputs=8, check_s=0.02), OpCounter()
    measure(wl, 0.05, counter)
    assert counter.attempted == 8


# ---- the benchmark definition ----------------------------------------------

def test_benchmark_json_matches_harness():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= {
        "full_match", "incremental_growth", "interpret_queries"
    }


def test_refuses_a_tree_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "full_match",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---- smoke runs at a tiny size ---------------------------------------------

@pytest.mark.smoke
@pytest.mark.parametrize("workload", ["full_match", "incremental_growth", "interpret_queries"])
@pytest.mark.parametrize("seed,trace", [(DEFAULT_SEED, 0), (HELD_OUT_SEED, 1)])
def test_smoke(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert report["failed_frac"] == 0
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
