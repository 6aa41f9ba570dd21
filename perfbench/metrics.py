"""Pure arithmetic over what a run recorded: latency summaries and the
traced run's per-layer metrics. Nothing here touches Spark."""

from __future__ import annotations

import statistics

from perfbench.trace import Span

#: About ``run.speed_probe``'s median CPU time on a 4-vCPU Intel Xeon
#: KVM guest under Python 3.11 with the host quiet. End-to-end times are
#: rescaled to the core speed at which the probe takes this long.
PROBE_REF_S = 0.0085

#: Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10

#: Spans that are a Spark action: the query's ``spark.exec`` and every
#: Engine op's single layer call.
EXEC_SPANS = {
    "spark.exec", "catalog.put", "catalog.get_to_local", "catalog.filetable", "catalog.delete",
    "maplejuice.maple", "maplejuice.juice", "maplejuice.exe", "engine.select", "engine.grep",
}

#: Per-layer metric -> span name whose per-pass total duration it is.
SPAN_SECONDS = {
    "workload.build_s": "workload.build",
    "spark.exec_s": None,  # every span in EXEC_SPANS
    "maplejuice.maple_s": "maplejuice.maple",
    "maplejuice.juice_s": "maplejuice.juice",
    "maplejuice.exe_s": "maplejuice.exe",
    "catalog.put_s": "catalog.put",
    "catalog.get_to_local_s": "catalog.get_to_local",
    "engine.select_s": "engine.select",
    "engine.grep_s": "engine.grep",
}

#: Per-layer metric -> (job-group phases summed, stage-metric key, scale).
STAGE_SUMS = {
    "workload.build_jobs": (("build",), "jobs", 1.0),
    "spark.exec_jobs": (("exec",), "jobs", 1.0),
    "spark.stages": (("build", "exec"), "stages", 1.0),
    "spark.tasks": (("build", "exec"), "tasks", 1.0),
    "spark.failed_tasks": (("build", "exec"), "failed_tasks", 1.0),
    "spark.task_run_s": (("build", "exec"), "task_run_ms", 1e-3),
    "spark.task_cpu_s": (("build", "exec"), "task_cpu_ns", 1e-9),
    "spark.gc_s": (("build", "exec"), "gc_ms", 1e-3),
    "spark.shuffle_write_bytes": (("build", "exec"), "shuffle_write_bytes", 1.0),
    "spark.shuffle_read_bytes": (("build", "exec"), ("shuffle_remote_bytes", "shuffle_local_bytes"), 1.0),
    "spark.spill_disk_bytes": (("build", "exec"), "spill_disk_bytes", 1.0),
    "spark.input_bytes": (("build", "exec"), "input_bytes", 1.0),
}

#: Per-layer metric -> key of the per-pass record an op filled in.
RECORDED = {
    "maplejuice.kv_rows_per_input_row": "kv_rows_per_input_row",
    "catalog.put_bytes": "put_bytes",
    "catalog.put_files": "put_files",
    "catalog.stored_bytes_ratio": "stored_bytes_ratio",
    "engine.select_rows": "select_rows",
    "engine.grep_matched": "grep_matched",
    "spark.analysis_ms": "analysis",
    "spark.optimization_ms": "optimization",
    "spark.planning_ms": "planning",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: ``(value, percentile)``."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples leave no percentile with {TAIL_BEYOND} beyond it")
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def pass_time(op_samples: dict[str, list[float]]) -> float:
    """Wall time of one pass: the sum over ops of each op's median
    latency."""
    return sum(statistics.median(v) for v in op_samples.values())


def net_of_steal(seconds: float, stolen: float, slots: int) -> float:
    """``seconds`` of wall time less the part of ``stolen`` (summed over
    all vCPUs) that fell on the critical path. The work runs on about
    ``slots`` vCPUs at once, each losing about ``stolen / slots``, and
    the slowest of them holds up the rest. With two slots on 4 vCPUs,
    five runs whose steal ranged 0.4-11% of vCPU time spread 0.28
    IQR/median raw, 0.21 with a quarter of the steal taken off and 0.12
    with a half; five more under 3-17% steal spread 0.09 with a half and
    0.60 with all of it."""
    return seconds - stolen / slots


def at_reference_speed(seconds: float, probes: list[float]) -> float:
    """``seconds`` measured while the speed probe took ``probes``, as
    they would read at the speed where it takes ``PROBE_REF_S``."""
    return seconds * PROBE_REF_S / statistics.median(probes)


def op_pass(op_id: str) -> int:
    """Pass index of an op id ``<pass>.<name>``."""
    return int(op_id.split(".", 1)[0])


def per_pass_layers(
    spans: list[Span],
    groups: dict[str, dict[str, float]],
    records: dict[int, dict[str, float]],
    cores: int,
    passes: list[int],
) -> dict[str, float]:
    """Median over the traced ``passes`` of each per-pass layer metric.

    ``groups`` are the event log's stage metrics per job group
    ``<op id>:<phase>``; ``records`` what each pass's ops measured."""
    per: dict[str, list[float]] = {}
    for p in passes:
        mine = [s for s in spans if s.parent is not None and op_pass(s.op) == p]
        vals: dict[str, float] = {}
        for metric, name in SPAN_SECONDS.items():
            vals[metric] = float(sum(
                s.end - s.start for s in mine if (s.name in EXEC_SPANS if name is None else s.name == name)
            ))
        phase_groups: dict[str, list[dict[str, float]]] = {"build": [], "exec": []}
        for g, m in groups.items():
            op_id, _, phase = g.rpartition(":")
            if phase in phase_groups and op_id and op_pass(op_id) == p:
                phase_groups[phase].append(m)
        for metric, (phases, keys, scale) in STAGE_SUMS.items():
            keys = (keys,) if isinstance(keys, str) else keys
            vals[metric] = scale * sum(m[k] for ph in phases for m in phase_groups[ph] for k in keys)
        exec_task_s = 1e-3 * sum(m["task_run_ms"] for m in phase_groups["exec"])
        wall = vals["spark.exec_s"] * cores
        vals["spark.slot_util"] = exec_task_s / wall if wall else 0.0
        rec = records.get(p, {})
        for metric, key in RECORDED.items():
            vals[metric] = float(rec.get(key, 0.0))
        for k, v in vals.items():
            per.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in per.items()}

