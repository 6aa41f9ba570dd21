"""Tests of the benchmark's own pieces; none of them starts Spark.

Run from the root of a checkout: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import collections
import filecmp
import json
import os
import re
import subprocess

import pandas as pd
import pytest

from perfbench import loggen, metrics, run
from perfbench import workloads as wl
from perfbench.trace import Span, Tracer, covered, self_time, stage_metrics

SMALL = {"machines": 3, "lines": 3000}


@pytest.fixture(scope="module")
def logs(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("logs"))
    return out, loggen.generate(out, seed=7, **SMALL)


def count_by_regex(out_dir, regex):
    """Matching lines per machine file, by scanning the text."""
    pat = re.compile(regex)
    out = {}
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name)) as f:
            out[name] = sum(1 for line in f if pat.search(line))
    return out


def _lines(out_dir):
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name)) as f:
            yield from f


# -- generator ----------------------------------------------------------------


def test_generator_is_deterministic_per_seed(logs, tmp_path):
    out, exp = logs
    again = loggen.generate(str(tmp_path / "a"), seed=7, **SMALL)
    other = loggen.generate(str(tmp_path / "b"), seed=8, **SMALL)
    names = sorted(os.listdir(out))
    assert again == exp
    _, mismatch, errors = filecmp.cmpfiles(out, str(tmp_path / "a"), names, shallow=False)
    assert not mismatch and not errors
    assert other != exp


def test_generator_answers_match_the_text(logs):
    out, exp = logs
    assert exp.grep_per_machine == count_by_regex(out, loggen.GREP_MACHINE_REGEX)
    assert exp.grep_count == sum(count_by_regex(out, loggen.GREP_COUNT_REGEX).values())
    assert exp.select_rows == sum(count_by_regex(out, loggen.SELECT_REGEX).values())
    lines = list(_lines(out))
    assert exp.lines == len(lines) == SMALL["machines"] * SMALL["lines"]
    assert exp.bytes == sum(len(x) for x in lines)
    assert exp.select_rows > 0 and exp.grep_count > 0


def test_maple_and_juice_functions_give_the_expected_level_counts(logs):
    out, exp = logs
    pdf = pd.DataFrame({"value": [x.rstrip("\n") for x in _lines(out)]})
    kv = pd.DataFrame(list(wl.maple_alerts(pdf)), columns=["key", "value"])
    got = {
        k: int(wl.juice_count(k, g)["value"][0]) for k, g in kv.groupby("key")
    }
    assert got == exp.alerts_per_level


def test_awk_runners_give_the_expected_service_counts(logs):
    out, exp = logs
    text = "".join(_lines(out))
    kv = subprocess.run(["sh", "-c", loggen.MAPLE_AWK], input=text, capture_output=True, text=True, check=True)
    red = subprocess.run(["sh", "-c", loggen.JUICE_AWK], input=kv.stdout, capture_output=True, text=True, check=True)
    got = {k: int(v) for k, v in (ln.split("\t") for ln in red.stdout.splitlines())}
    assert got == exp.errors_per_service


# -- metric names ---------------------------------------------------------------

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed_and_declared():
    spec = _spec()
    layer = {m["name"] for m in spec["per_layer"]}
    emitted = set(metrics.per_pass_layers([], {}, {}, 4, [0])) | {
        "session.get_spark_s", "session.warmup_s", "session.peak_rss_mb", "workload.leaked_rdds",
        "trace.e2e_s", "trace.overhead_s", "op_p50_s", "op_tail_s",
    }
    assert emitted == layer
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s", "e2e_s"}
    for name in layer | e2e | {w["name"] for w in spec["workloads"]}:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {w["name"] for w in spec["workloads"]} == set(wl.WORKLOADS)
    assert run.declared_units(trace=False)["setup_s"] == "s"


# -- spans ----------------------------------------------------------------------


def _span(i, start, end, parent=None, name="x"):
    return Span(i, name, "0.op", start, end, parent)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 9.0, 12.0, 0)]
    # children cover [1, 5] and [9, 10]: 5 of the parent's 10 seconds
    assert covered([(k.start, k.end) for k in kids], 0.0, 10.0) == pytest.approx(5.0)
    assert self_time(parent, kids) == pytest.approx(5.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert self_time(parent, [_span(4, -1.0, 11.0, 0)]) == pytest.approx(0.0)


def test_tracer_nests_and_flags_uncovered_ops():
    tr = Tracer()
    with tr.span("op", "0.a"):
        with tr.span("workload.build", "0.a"):
            pass
    op, build = tr.spans
    assert build.parent == op.id and op.parent is None
    assert op.start <= build.start <= build.end <= op.end
    assert tr.uncovered_ops() == []
    # a child covering 2 s of a 10 s op leaves 8 s uncovered
    tr.spans[0].start, tr.spans[0].end = 0.0, 10.0
    tr.spans[1].start, tr.spans[1].end = 0.0, 2.0
    assert tr.uncovered_ops() == ["0.a"]


def test_per_pass_layers_joins_spans_and_job_groups():
    spans = [
        Span(0, "op", "1.q", 0.0, 3.0, None),
        Span(1, "workload.build", "1.q", 0.0, 1.0, 0),
        Span(2, "spark.exec", "1.q", 1.0, 3.0, 1),
        Span(3, "op", "0.q", 0.0, 9.0, None),
        Span(4, "workload.build", "0.q", 0.0, 9.0, 3),
    ]
    base = dict.fromkeys(("jobs", "stages", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
                          "spill_disk_bytes", "input_bytes", "shuffle_write_bytes", "shuffle_remote_bytes",
                          "shuffle_local_bytes"), 0.0)
    groups = {
        "1.q:build": {**base, "jobs": 3.0},
        "1.q:exec": {**base, "jobs": 1.0, "task_run_ms": 4000.0, "shuffle_local_bytes": 5.0,
                     "shuffle_remote_bytes": 2.0},
        "0.q:build": {**base, "jobs": 99.0},
    }
    out = metrics.per_pass_layers(spans, groups, {1: {"planning": 7.0}}, cores=4, passes=[1])
    assert out["workload.build_s"] == pytest.approx(1.0)
    assert out["spark.exec_s"] == pytest.approx(2.0)
    assert out["workload.build_jobs"] == 3.0 and out["spark.exec_jobs"] == 1.0
    assert out["spark.slot_util"] == pytest.approx(4.0 / (2.0 * 4))
    assert out["spark.shuffle_read_bytes"] == 7.0
    assert out["spark.planning_ms"] == 7.0


def test_stage_metrics_attributes_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "0.q:exec"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 30, "JVM GC Time": 2,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 5}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "Success"}},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    g = stage_metrics(str(log))
    q = g["0.q:exec"]
    assert (q["jobs"], q["stages"], q["tasks"], q["failed_tasks"]) == (1, 1, 2, 1)
    assert (q["task_run_ms"], q["gc_ms"], q["shuffle_write_bytes"]) == (35, 2, 100)
    assert g[""]["tasks"] == 1


def test_pass_time_sums_per_op_medians():
    assert metrics.pass_time({"a": [1.0, 9.0, 2.0], "b": [0.5]}) == pytest.approx(2.5)


def test_net_of_steal_takes_off_one_slot_share():
    assert metrics.net_of_steal(5.0, 2.0, 2) == pytest.approx(4.0)
    assert metrics.net_of_steal(5.0, 0.0, 4) == 5.0


def test_at_reference_speed_scales_by_the_median_probe():
    ref = metrics.PROBE_REF_S
    assert metrics.at_reference_speed(4.0, [ref, 2 * ref, 2 * ref]) == pytest.approx(2.0)
    assert metrics.at_reference_speed(4.0, [ref / 2, ref, 9 * ref]) == pytest.approx(4.0)


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct = metrics.tail(xs)
    assert value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == metrics.TAIL_BEYOND
    with pytest.raises(ValueError):
        metrics.tail(xs[:10])


# -- op order -------------------------------------------------------------------


def test_op_order_is_a_function_of_the_seed_only():
    ops = dict.fromkeys(wl.QUERY_WORKLOADS["relational_short"], ())
    first = wl.pass_order(ops, 3, 0)
    assert first == wl.pass_order(dict(reversed(list(ops.items()))), 3, 0)
    assert sorted(first) == sorted(ops)
    orders = {tuple(wl.pass_order(ops, s, 0)) for s in range(20)}
    assert len(orders) > 1
    assert wl.pass_order(ops, 3, 1) != first or wl.pass_order(ops, 3, 2) != first


def test_maplejuice_order_respects_dependencies():
    counts = collections.Counter()
    for seed in range(30):
        order = wl.pass_order(wl.MAPLEJUICE_AFTER, seed, 0)
        assert sorted(order) == sorted(wl.MAPLEJUICE_AFTER)
        pos = {n: i for i, n in enumerate(order)}
        for op, deps in wl.MAPLEJUICE_AFTER.items():
            assert all(pos[d] < pos[op] for d in deps), (seed, op)
        assert order[-1] == "delete"
        counts[order[0]] += 1
    assert len(counts) > 1
    with pytest.raises(ValueError):
        wl.pass_order({"a": ("b",), "b": ("a",)}, 0, 0)
