"""Per-operation engine accounting from an uncompressed Spark event log.

Every benchmark operation runs under its own job group, so each job,
stage and task in the log joins back to one operation. ``parse`` folds
the log into one record per job group:

- jobs and tasks, and the union of the job spans (driver time is the
  operation's wall minus that union);
- task-level scheduler delay, executor run and CPU time, GC, shuffle
  bytes and write time, spill;
- the ``PythonSQLMetrics`` of every Python node (worker start, init and
  run time, bytes sent and returned);
- whether any job of the group ran a Python node, by plan node name and
  by RDD operation scope (which also covers checkpoint jobs that run
  outside a SQL execution).
"""

from __future__ import annotations

import json
import os
import re

# Physical operators that run Python workers (PySpark 4.1).
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow|PythonUDTF")

_PY_METRICS = {
    "time to start Python workers": "worker_start_s",
    "time to initialize Python workers": "worker_init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


def _new_group() -> dict:
    return {
        "jobs": 0, "tasks": 0, "job_spans": [],
        "scheduler_delay_s": 0.0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_s": 0.0, "spill_bytes": 0,
        "python": {v: 0.0 for v in _PY_METRICS.values()},
        "python_nodes": set(),
    }


def _walk(plan: dict, acc_meta: dict, py_nodes: set) -> None:
    name = plan.get("nodeName", "")
    is_py = bool(PYTHON_NODE.search(name))
    if is_py:
        py_nodes.add(name)
    for m in plan.get("metrics", []):
        if is_py and m.get("name") in _PY_METRICS:
            acc_meta[m["accumulatorId"]] = (_PY_METRICS[m["name"]], m.get("metricType", ""))
    for c in plan.get("children", []):
        _walk(c, acc_meta, py_nodes)


def _scale(value: float, metric_type: str) -> float:
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return value


def union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _log_files(log_dir: str) -> list[str]:
    """Event files in write order: a plain log, or the ``events_<n>_*``
    parts of a rolling log directory (Spark 4's default)."""
    out = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            m = re.match(r"events_(\d+)_", n)
            if m or not n.startswith(("appstatus", ".")):
                out.append((int(m.group(1)) if m else 0, os.path.join(dirpath, n)))
    return [p for _, p in sorted(out)]


def parse(log_dir: str) -> dict[str, dict]:
    """job group id → accounting record (see module docstring)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    exec_py: dict[int, set] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    acc_group: dict[int, str] = {}
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    eid = ev["executionId"]
                    py = exec_py.setdefault(eid, set())
                    metas: dict = {}
                    _walk(ev.get("sparkPlanInfo", {}), metas, py)
                    acc_meta.update(metas)
                    g = exec_group.get(eid)
                    if g is not None:
                        groups[g]["python_nodes"] |= py
                        for a in metas:
                            acc_group[a] = g
                    else:
                        for a in metas:
                            acc_group.setdefault(a, f"exec:{eid}")
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    g = groups.setdefault(gid, _new_group())
                    g["jobs"] += 1
                    jid = ev["Job ID"]
                    job_group[jid] = gid
                    job_start[jid] = ev["Submission Time"] / 1e3
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                    for si in ev.get("Stage Infos", []):
                        for rdd in si.get("RDD Info", []):
                            try:
                                scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
                            except ValueError:
                                scope = ""
                            # RDD names are class-like ("PythonRDD") or
                            # whole plan strings; only the former name a node
                            name = rdd.get("Name", "")
                            for nm in (name if " " not in name else "", scope):
                                if PYTHON_NODE.search(nm):
                                    g["python_nodes"].add(nm)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        eid = int(eid)
                        if eid not in exec_group:
                            exec_group[eid] = gid
                            g["python_nodes"] |= exec_py.get(eid, set())
                            tag = f"exec:{eid}"
                            for a, owner in list(acc_group.items()):
                                if owner == tag:
                                    acc_group[a] = gid
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["job_spans"].append(
                            (job_start[jid], ev["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    g = groups[gid]
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                    run = tm.get("Executor Run Time", 0) / 1e3
                    deser = tm.get("Executor Deserialize Time", 0) / 1e3
                    ser = tm.get("Result Serialization Time", 0) / 1e3
                    getting = info.get("Getting Result Time", 0)
                    getting = (info["Finish Time"] - getting) / 1e3 if getting else 0.0
                    g["scheduler_delay_s"] += max(0.0, dur - run - deser - ser - getting)
                    g["executor_run_s"] += run
                    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    for acc in info.get("Accumulables", []):
                        meta = acc_meta.get(acc.get("ID"))
                        if meta is None or acc_group.get(acc["ID"]) != gid:
                            continue
                        try:
                            upd = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        g["python"][meta[0]] += _scale(upd, meta[1])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for a, v in ev.get("accumUpdates", []):
                        meta = acc_meta.get(a)
                        gid = acc_group.get(a)
                        if meta and gid in groups:
                            groups[gid]["python"][meta[0]] += _scale(float(v), meta[1])
    for g in groups.values():
        g["job_span_union_s"] = union_s(g.pop("job_spans"))
        g["python_nodes"] = sorted(g["python_nodes"])
    return groups
