"""Offline parser for Spark's own event log (uncompressed, single file).

Attributes executor counters to the job description that was set around
each benchmark call (``workload:job:phase``), or, for streaming jobs, to the
description Spark sets itself (it names the query). Reads only counters
Spark records: task metrics, plan SQL metrics, job and stage boundaries.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

#: plan SQL metrics of the Python nodes (MapInPandas, FlatMapGroupsInPandas…).
#: Spark's "time to initialize/start Python workers" are left out: summed
#: over tasks, worker initialization overlaps the upstream stage and adds
#: up to several times a pass's core-seconds, and start time reads 0 once
#: the workers are reused, which they are in every timed pass.
PYTHON_METRICS = {
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
}
#: plan SQL metric type -> factor to the unit ``Group`` keeps (ms for times)
METRIC_SCALE = {"nsTiming": 1e-6}


@dataclass
class Group:
    """Counters of every job that ran under one description."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    task_failures: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    python: dict = field(default_factory=lambda: defaultdict(float))
    #: (plan node name, metric name) -> summed task updates
    nodes: dict = field(default_factory=lambda: defaultdict(float))
    #: stage id -> executor run times (ms) of its successful tasks
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))
    #: stage ids that read shuffle data (post-exchange stages)
    shuffle_read_stages: set = field(default_factory=set)


def _plan_accums(info: dict, out: dict) -> None:
    """Accumulator id -> (plan node, metric name, scale) over a plan tree."""
    for m in info.get("metrics", []):
        scale = METRIC_SCALE.get(m.get("metricType"), 1.0)
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"], scale)
    for c in info.get("children", []):
        _plan_accums(c, out)


def event_log_file(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return files[0]


def parse(path: str) -> dict[str, Group]:
    stage_desc: dict[int, str] = {}
    accum_node: dict[int, tuple[str, str, float]] = {}
    groups: dict[str, Group] = defaultdict(Group)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if "sparkPlanInfo" in e:
                _plan_accums(e["sparkPlanInfo"], accum_node)
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                g = groups[desc]
                g.jobs += 1
                for sid in e.get("Stage IDs", []):
                    stage_desc[sid] = desc
                    g.stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(e["Stage ID"], "")
                g = groups[desc]
                info = e.get("Task Info") or {}
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    g.task_failures += 1
                m = e.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                g.run_ms += run_ms
                g.cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g.shuffle_read_bytes += read
                if not info.get("Failed"):
                    g.stage_task_ms[e["Stage ID"]].append(run_ms)
                if read:
                    g.shuffle_read_stages.add(e["Stage ID"])
                for acc in info.get("Accumulables", []):
                    try:
                        upd = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    node = accum_node.get(acc.get("ID"))
                    if node is None:
                        continue
                    upd *= node[2]
                    g.nodes[node[:2]] += upd
                    if node[1] in PYTHON_METRICS:
                        g.python[PYTHON_METRICS[node[1]]] += upd
    return dict(groups)


def task_skew(g: Group) -> float:
    """Max over median task run time in the post-exchange stages, taking
    the worst stage (1.0 when no stage reads shuffle data)."""
    worst = 1.0
    for sid in g.shuffle_read_stages:
        times = sorted(g.stage_task_ms.get(sid, []))
        if len(times) < 2:
            continue
        med = times[len(times) // 2]
        if med > 0:
            worst = max(worst, times[-1] / med)
    return worst


def merge(groups: dict[str, Group], pred) -> Group:
    """One ``Group`` summing every group whose description satisfies ``pred``."""
    out = Group()
    for desc, g in groups.items():
        if not pred(desc):
            continue
        out.jobs += g.jobs
        out.stages |= g.stages
        out.task_failures += g.task_failures
        out.run_ms += g.run_ms
        out.cpu_ns += g.cpu_ns
        out.gc_ms += g.gc_ms
        out.shuffle_write_bytes += g.shuffle_write_bytes
        out.shuffle_read_bytes += g.shuffle_read_bytes
        out.spill_bytes += g.spill_bytes
        for k, v in g.python.items():
            out.python[k] += v
        for k, v in g.nodes.items():
            out.nodes[k] += v
        for k, v in g.stage_task_ms.items():
            out.stage_task_ms[k].extend(v)
        out.shuffle_read_stages |= g.shuffle_read_stages
    return out


MB = 1024.0 * 1024.0


def spark_metrics(g: Group) -> dict[str, float]:
    """The ``spark.*`` and ``python.*`` per-layer metrics of one group."""
    return {
        "spark.executor_run_s": g.run_ms / 1000.0,
        "spark.executor_cpu_s": g.cpu_ns / 1e9,
        "spark.gc_s": g.gc_ms / 1000.0,
        "spark.shuffle_write_mb": g.shuffle_write_bytes / MB,
        "spark.shuffle_read_mb": g.shuffle_read_bytes / MB,
        "spark.spill_mb": g.spill_bytes / MB,
        "spark.jobs": float(g.jobs),
        "spark.stages": float(len(g.stages)),
        "spark.task_failures": float(g.task_failures),
        "python.run_s": g.python["run_ms"] / 1000.0,
        "python.sent_mb": g.python["sent_bytes"] / MB,
        "python.returned_mb": g.python["returned_bytes"] / MB,
    }
