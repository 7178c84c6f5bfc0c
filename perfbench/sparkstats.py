"""Reads what Spark already measures: SQL plan metrics of finished
executions, task times of finished jobs, and the Python workers' memory.

Everything is read from outside the engine, through the driver's status
stores (which Spark keeps whether or not the web UI runs) and ``/proc``.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JJavaError

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_VALUE_RE = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one rendered SQL metric, in seconds, bytes or a count.

    Spark renders sums as ``4,000``, and timing and size metrics either as
    one value (``0 ms``) or as ``total (min, med, max ...)`` followed by a
    line that starts with the total (``2.4 s (459 ms, ...)``)."""
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE_RE.match(line.strip())
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value


def last_execution_id(spark) -> int:
    """Id of the newest SQL execution, or -1."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def executions_since(spark, after_id: int) -> list[dict]:
    """SQL executions with id > ``after_id``, oldest first: id, wall
    seconds, job ids and ``nodes`` as (node name, {metric: value})."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        eid = ex.executionId()
        if eid <= after_id:
            continue
        end = ex.completionTime()
        values = store.executionMetrics(eid)
        nodes = []
        graph = store.planGraph(eid).allNodes()
        for j in range(graph.size()):
            node = graph.apply(j)
            metrics = {}
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                raw = values.get(m.accumulatorId())
                if raw.isDefined():
                    metrics[m.name()] = parse_metric(raw.get())
            nodes.append((node.name(), metrics))
        jobs = ex.jobs().keySet().toSeq()
        out.append({
            "id": eid,
            "wall_s": (end.get().getTime() - ex.submissionTime()) / 1e3
            if end.isDefined() else None,
            "jobs": [int(jobs.apply(j)) for j in range(jobs.size())],
            "nodes": nodes,
        })
    return out


def node_metrics(nodes: list, prefix: str) -> dict:
    """Summed metrics of the nodes (as (name, {metric: value})) whose
    name starts with ``prefix``."""
    total: dict = {}
    for name, metrics in nodes:
        if name.startswith(prefix):
            for k, v in metrics.items():
                total[k] = total.get(k, 0.0) + v
    return total


# raw SQLMetric values by metric type -> seconds, bytes or counts
_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0,
              "average": 1.0}


def plan_metrics(plan) -> list:
    """Raw metrics of an executed physical plan's nodes, as (node name,
    {metric key: value}); unlike the rendered ones, with full precision."""
    out = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        metrics = {}
        pairs = node.metrics().toSeq()
        for i in range(pairs.size()):
            key, metric = pairs.apply(i)._1(), pairs.apply(i)._2()
            metrics[key] = metric.value() * _RAW_SCALE.get(metric.metricType(), 1.0)
        out.append((node.nodeName(), metrics))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def job_tasks(spark, job_ids) -> list[dict]:
    """Finished tasks of the given jobs: duration and executor run time
    in seconds, and input records."""
    tracker = spark.sparkContext.statusTracker()
    store = spark._jsc.sc().statusStore()
    tasks = []
    stages = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    for sid in sorted(stages):
        try:
            tl = store.taskList(sid, 0, 1 << 30)
        except Py4JJavaError:  # stage skipped: its shuffle output was reused
            continue
        for i in range(tl.size()):
            td = tl.apply(i)
            if not td.taskMetrics().isDefined():
                continue
            tm = td.taskMetrics().get()
            tasks.append({
                "stage": sid,
                "duration_s": td.duration().get() / 1e3,
                "run_s": tm.executorRunTime() / 1e3,
                "records": tm.inputMetrics().recordsRead(),
            })
    return tasks


def group_jobs(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _is_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:  # the process ended while we looked
        return False


def worker_pids() -> set[int]:
    """Pids of the Python worker processes (and their daemon) that this
    process started through Spark."""
    children = _children_map()
    found = set()
    stack = list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if _is_worker(pid):
            found.add(pid)
    return found


def worker_peak_rss_mb() -> float:
    """Largest peak resident set (VmHWM) of the Python worker processes
    this process started through Spark, in MiB (0.0 when none runs)."""
    return max((_vm_hwm_kb(p) or 0 for p in worker_pids()), default=0) / 1024.0
