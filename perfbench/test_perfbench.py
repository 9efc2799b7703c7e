"""Self-tests of the benchmark's own arithmetic and plumbing. They
start no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import probes  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from workloads import OpRecord  # noqa: E402


def _span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "construct", 1.0, 3.0),
        _span(2, 0, "execute", 2.0, 6.0),  # overlaps construct by 1 s
        _span(3, 2, "kernel", 3.0, 4.0),
        _span(4, 0, "plan", 9.0, 12.0),  # runs past its parent's end
    ]
    got = spans.self_times(tree)
    assert got == pytest.approx(
        {"op": 10 - 5 - 1, "construct": 2.0, "execute": 3.0, "kernel": 1.0, "plan": 3.0}
    )


def test_self_time_skips_open_spans_and_groups_by_layer():
    tree = [
        _span(0, None, "op", 0.0, 4.0),
        _span(1, 0, "construct", 0.0, 1.0),
        _span(2, None, "op", 5.0, 7.0),
        _span(3, 2, "construct", 5.0, None),  # never closed
    ]
    got = spans.self_times(tree, lambda s: "L:" + s["name"])
    assert got == pytest.approx({"L:op": 3.0 + 2.0, "L:construct": 1.0})


def test_tracer_records_nesting_and_run_id():
    t = spans.Tracer("run-1", enabled=True)
    with t.span("op", kind="k"):
        with t.span("construct"):
            pass
    assert [s["name"] for s in t.spans] == ["op", "construct"]
    assert t.spans[1]["parent"] == t.spans[0]["id"]
    assert {s["run"] for s in t.spans} == {"run-1"}
    off = spans.Tracer("run-2", enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_seed_fixes_the_operation_sequence(name, tmp_path):
    cls = workloads.WORKLOADS[name]

    def workload(seed):
        wl = cls({}, tmp_path, seed)
        # the shard index a set-up reads from the tar headers
        wl.index = [(f"shard-{i % 128:05d}.tar", f"rec-{i:09d}.jpg") for i in range(500)]
        return wl

    def first(seed, n=40):
        wl = workload(seed)
        return json.dumps(list(itertools.islice(wl.sequence(), n)), default=str)

    assert first(7) == first(7)
    if name != "curation":  # a pass's order is fixed; its seed picks the sample
        assert first(7) != first(8)
    wl = workload(7)
    kinds = {k for k, _ in itertools.islice(wl.sequence(), wl.cycle_len())}
    assert kinds <= set(wl.reads) | set(wl.writes)
    assert {k for k, _ in wl.warm_ops()} == set(wl.reads) | set(wl.writes)


def _records():
    """Two whole cycles of (a, b, w), one second apart, and a third
    cut short."""
    recs = []
    for i, (kind, write, ms) in enumerate(
        [("a", False, 100), ("b", False, 400), ("w", True, 50),
         ("a", False, 300), ("b", False, 500), ("w", True, 70),
         ("a", False, 90)]
    ):
        r = OpRecord(i, kind, write, {}, latency_s=ms / 1e3, cycle=i // 3)
        r.start = i // 3 * 10.0 + i % 3
        r.end = r.start + r.latency_s
        recs.append(r)
    return recs


def test_every_declared_metric_is_printed_with_its_unit():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = run.end_to_end(_records(), [1.0, 2.0, 3.0], 3, 2**30)
    out = run.result(7, 0, e2e, run.END_TO_END)
    for m in bench["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    assert set(out["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    for m in bench["per_layer"]:
        assert run.PER_LAYER[m["name"]] == m["unit"]
    assert set(run.PER_LAYER) == {m["name"] for m in bench["per_layer"]}
    assert e2e["setup_s"] == 2.0
    # per-kind best: a = 90 ms, b = 400 ms, w = 50 ms
    assert e2e["read_ms"] == pytest.approx(245)
    assert e2e["write_ms"] == pytest.approx(50)
    # whole cycles 0 and 1: 6 operations over 2.05 s + 2.07 s of wall
    assert e2e["ops_per_s"] == pytest.approx(6 / 4.12)
    assert e2e["peak_rss_mb"] == 1024


class _BrokenSpark:
    """A session whose status store is gone."""

    @property
    def sparkContext(self):
        raise RuntimeError("status store unavailable")


def test_a_failed_probe_leaves_numbers_out_and_does_not_fail_the_run():
    probe = {"eager_jobs": 2, "jobs": [1, 2], "scans": 1, "exchanges": 0,
             "joins": 0, "windows": 0, "python_nodes": 0}
    recs = _records()
    for r in recs:
        r.traced = r.seq % 2 == 0
    got = run.layer_metrics(_BrokenSpark(), recs, probe, [], {})
    assert not any(k.startswith("spark.") and k != "spark.skew_max_median" for k in got)
    assert got["operators.eager_jobs"] == 2
    assert got["plan.scans"] == 1
    out = run.result(7, 0, got, run.PER_LAYER)
    assert out["correct"] and "spark.jobs" not in out["metrics"]
    probe["broken"] = {"shape"}
    got = run.layer_metrics(_BrokenSpark(), recs, probe, [], {})
    assert "plan.scans" not in got and got["operators.eager_jobs"] == 2


def test_plan_shape_counts_only_the_final_adaptive_plan():
    text = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- *(3) BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight
      :- *(3) HashAggregate(keys=[k#1L], functions=[count(1)])
      :  +- ShuffleQueryStage 0
      :     +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS
      :        +- *(1) FileScan parquet [k#1L]
      +- BroadcastQueryStage 2
         +- BroadcastExchange HashedRelationBroadcastMode
            +- MapInPandas run(k#2L)
               +- LocalTableScan [k#2L]
+- == Initial Plan ==
   SortMergeJoin [k#1L], [k#2L], Inner
   +- Exchange hashpartitioning(k#1L, 32)
"""
    assert probes.plan_shape(text) == {
        "scans": 2, "exchanges": 2, "joins": 1, "windows": 0, "python_nodes": 1,
    }


def test_percentile_and_tree_delta():
    assert run.percentile([5, 1, 4, 2, 3, 6, 7, 8, 9, 10], 0.9) == 9
    before = {1: {"kind": "jvm", "cpu": 1.0, "child_cpu": 0.5, "read": 0, "write": 0},
              2: {"kind": "py", "cpu": 2.0, "child_cpu": 0.0, "read": 10, "write": 0}}
    after = {1: {"kind": "jvm", "cpu": 3.0, "child_cpu": 1.5, "read": 0, "write": 2**20},
             2: {"kind": "py", "cpu": 2.5, "child_cpu": 1.0, "read": 10, "write": 0},
             3: {"kind": "py", "cpu": 0.25, "child_cpu": 0.0, "read": 0, "write": 0}}
    d = probes.tree_delta(before, after)
    assert d["jvm_cpu_s"] == 2.0
    assert d["py_worker_cpu_s"] == 1.0 + 0.5 + 1.0 + 0.25
    assert d["disk_write_mb"] == 1.0
