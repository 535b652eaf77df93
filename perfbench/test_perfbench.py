"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q

``testdata/eventlog_small.jsonl`` was recorded from Spark 4.1.2 (local[2])
with the fields this parser reads kept: inside span ``rec:1`` one parquet
write, then a count and a grouped collect of what it wrote; after the span
one ungrouped count.  ``testdata/spans_small.jsonl`` holds the two spans
recorded around it.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import types

import pytest

from perfbench import layers, procs, stats, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- percentile rule ----------------------------------------------------------


@pytest.mark.parametrize("n, expected", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_supported_percentile_leaves_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected
    if expected is not None:
        assert n - n * expected / 100 >= 10


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_spread_uses_statistics_quartiles():
    q1, med, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


def test_worse_by_respects_direction():
    assert stats.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert stats.worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)


# -- error_rate accounting ----------------------------------------------------


def test_tally_counts_each_operation_once():
    t = stats.Tally()
    assert t.error_rate == 0.0
    assert t.record("iteration 0", [])
    assert not t.record("iteration 1", ["clusters differ", "signatures differ"])
    assert t.record("query", [])
    assert (t.attempted, t.failed) == (3, 1)
    assert t.error_rate == pytest.approx(1 / 3)
    assert t.failures == ["iteration 1: clusters differ", "iteration 1: signatures differ"]


# -- spans ----------------------------------------------------------------------


def _span(sid, start, end, parent=None):
    return trace.Span(sid, sid, start, end, parent, "r")


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, "root"),
        _span("b", 3.0, 6.0, "root"),  # overlaps a: union covers 1..6
        _span("c", 8.0, 12.0, "root"),  # runs past the parent: only 8..10 counts
        _span("a1", 1.5, 2.0, "a"),
    ]
    st = trace.self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["a"] == pytest.approx(3.0 - 0.5)
    assert st["a1"] == pytest.approx(0.5)
    assert trace.descendants(spans, "a") == {"a", "a1"}


def test_union_length():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


class _FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.calls.append(("group", gid))

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_tracer_sets_one_job_group_per_span_and_restores_the_parent():
    sc = _FakeContext()
    tr = trace.Tracer("run")
    tr.attach(sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.span_id and outer.parent is None
    assert sc.calls == [
        ("group", outer.span_id), ("group", inner.span_id), ("group", outer.span_id),
        ("spark.jobGroup.id", None), ("spark.job.description", None),
    ]
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_writes_spans(tmp_path):
    tr = trace.Tracer("run")
    with tr.span("x"):
        pass
    tr.write(str(tmp_path / "spans.jsonl"))
    (rec,) = [json.loads(line) for line in open(tmp_path / "spans.jsonl")]
    assert set(rec) == {"span_id", "name", "start", "end", "parent", "run_id"}


# -- event log -------------------------------------------------------------------


@pytest.fixture(scope="module")
def recorded():
    log = trace.parse_event_log([os.path.join(HERE, "testdata", "eventlog_small.jsonl")])
    with open(os.path.join(HERE, "testdata", "spans_small.jsonl")) as f:
        spans = [trace.Span(**json.loads(line)) for line in f]
    return log, spans


def test_event_log_jobs_carry_the_span_job_group(recorded):
    log, spans = recorded
    stage = spans[1]
    grouped = [j for j in log.jobs.values() if j.group == stage.span_id]
    assert len(grouped) == 7 and len(log.jobs) == 9
    assert all(stage.start <= j.submit and j.end <= stage.end for j in grouped)


def test_event_log_sql_executions_and_bookkeeping(recorded):
    log, spans = recorded
    assert [e.is_write for _, e in sorted(log.sql.items())] == [True, False, False, False]
    w = trace.work_for(log, trace.descendants(spans, spans[0].span_id))
    assert w.jobs == 7
    # the count and the grouped collect after the write, not the write itself
    expect = sum(log.sql[i].end - log.sql[i].start for i in (1, 2))
    assert trace.bookkeeping_s(log, w) == pytest.approx(expect)
    assert trace.bookkeeping_s(log, trace.SpanWork()) == 0.0


def test_event_log_task_totals(recorded):
    log, spans = recorded
    w = trace.work_for(log, {spans[1].span_id})
    tasks = sum(s.tasks for s in log.stages.values() if s.group == spans[1].span_id)
    assert tasks > 0
    assert w.task_s == pytest.approx(
        sum(s.task_s for s in log.stages.values() if s.group == spans[1].span_id))
    assert w.shuffle_write_mb > 0 and w.output_mb > 0
    # the write reads 1,000 generated rows; the count and the collect each
    # scan the 10 rows it wrote
    assert w.input_rows == 1020
    active = trace.spark_active_s(w, spans[0].start, spans[0].end)
    assert 0 < active <= spans[0].duration


# -- layer probe plumbing ---------------------------------------------------------


def test_timed_calls_counts_outermost_calls_only():
    mod = types.SimpleNamespace()
    mod.inner = lambda: sum(range(1000))
    mod.outer = lambda: mod.inner() + mod.inner()
    originals = (mod.inner, mod.outer)
    acc = [0.0]
    with layers.timed_calls(mod, ["inner", "outer"], acc):
        mod.outer()
        after_one = acc[0]
        mod.inner()
    assert 0 < after_one <= acc[0]
    assert (mod.inner, mod.outer) == originals


# -- CPU accounting ------------------------------------------------------------------


def test_tree_cpu_counts_reaped_children():
    before = procs.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    spent = procs.cpu_since(before, procs.tree_cpu_s(os.getpid()))
    assert sum(u + s for u, s in spent.values()) >= 0.25


def test_cpu_since_keeps_names_that_appear():
    before = {"java": (1.0, 0.5)}
    after = {"java": (3.0, 0.75), procs.JIT: (2.0, 0.0), "python3": (0.5, 0.0)}
    assert procs.cpu_since(before, after) == {
        "java": (2.0, 0.25), procs.JIT: (2.0, 0.0), "python3": (0.5, 0.0)}


def test_work_cpu_leaves_out_the_jit():
    from perfbench import workloads

    cpu = {"java": (2.0, 0.25), procs.JIT: (5.0, 0.5), "python3": (0.5, 0.25)}
    assert workloads._work_cpu(cpu) == 3.0
    assert workloads._jit_cpu(cpu) == 5.5


# -- BENCHMARK.json ------------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_follows_its_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    from perfbench import run, workloads

    assert sorted(names) == sorted(run.CORPUS_KIND) == sorted(workloads.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    all_names = names + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(all_names) == len(set(all_names))
    assert all(NAME.match(n) for n in all_names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert len(json.dumps(spec)) <= 64 * 1024


def test_design_notes_cover_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "DESIGN.json")) as f:
        design = json.load(f)
    layer_map = design["layer_map"]
    mapped = {m for entry in layer_map.values() for m in entry["metrics"]}
    assert mapped == {m["name"] for m in spec["per_layer"]}
    assert set(design["workloads"]) == {w["name"] for w in spec["workloads"]}
