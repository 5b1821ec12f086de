"""Traced-run helpers: the Spark event log parsed offline into per-call
job/stage/task totals, and the executed plan walked for the Python
boundary's ``python*`` SQL metrics."""

from __future__ import annotations

import json
from collections import defaultdict

#: executed-plan SQL metric -> (layer metric, divisor to s or MB)
PYTHON_METRICS = {
    "pythonBootTime": ("python.boot_s", 1e3),
    "pythonInitTime": ("python.init_s", 1e3),
    "pythonTotalTime": ("python.run_s", 1e3),
    "pythonDataSent": ("python.sent_mb", 1e6),
    "pythonDataReceived": ("python.received_mb", 1e6),
}


def python_metrics(df) -> dict[str, float]:
    """Sum the ``python*`` metrics over the executed plan of ``df``
    (call after an action)."""
    out = {k: 0.0 for k, _ in PYTHON_METRICS.values()}

    def walk(node) -> None:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            spec = PYTHON_METRICS.get(kv._1())
            if spec:
                out[spec[0]] += kv._2().value() / spec[1]
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def job_totals(path: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and task time/shuffle totals.

    ``windows`` maps each job group to its call's (start, end) in epoch
    ms.  Jobs submitted from other threads carry no group (the loader's
    thread pool); they are attributed to the call whose window holds
    their submission time.
    """
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_seen: set[int] = set()
    tasks: list[tuple[int, dict, dict]] = []

    def group_at(t_ms: float) -> str | None:
        for g, (a, b) in windows.items():
            if a <= t_ms <= b:
                return g
        return None

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group not in windows:
                    group = group_at(ev["Submission Time"])
                if group is None:
                    continue
                job_group[jid] = group
                job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                stage_seen.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                tasks.append((ev["Stage ID"], ev["Task Info"], ev.get("Task Metrics") or {}))

    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, g in job_group.items():
        a, b = job_span[jid]
        agg[g]["jobs"] += 1
        agg[g]["exec_s"] += (b - a) / 1e3
    for sid, jid in stage_job.items():
        if sid in stage_seen and jid in job_group:
            agg[job_group[jid]]["stages"] += 1
    for sid, info, m in tasks:
        g = job_group[stage_job[sid]]
        a = agg[g]
        run = m.get("Executor Run Time", 0)
        deser = m.get("Executor Deserialize Time", 0)
        wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        other = deser + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        a["tasks"] += 1
        a["task_run_s"] += run / 1e3
        a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["task_wait_s"] += (max(0, wall - run - other) + deser) / 1e3
        a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        a["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
        a["rows_scanned"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return {g: dict(v) for g, v in agg.items()}
