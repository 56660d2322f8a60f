"""Stdlib-only reader for Spark's JSON event log.

The benchmark sets ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (Spark 4's default codec is zstd, which
the Python 3.11 stdlib cannot read) and calls ``setJobDescription(stage)``
before each stage. Every Spark job then carries its benchmark stage in the
``spark.job.description`` property, and this module folds the log into
per-stage layer numbers:

* ``SparkListenerTaskEnd`` task metrics give executor run and CPU time,
  JVM GC time, shuffle write/read bytes, fetch wait, disk spill, output
  bytes and failed tasks;
* SQL plan metrics (from ``SparkListenerSQLExecutionStart`` and every
  adaptive re-plan) map accumulator ids to plan nodes, so the per-task
  accumulator updates give each ``MapInArrow`` node's "time to run Python
  workers" and "data sent to / returned from Python workers", and each
  scan's "size of files read".
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1e6


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: Spark 4 rolls each application
    into ``eventlog_v2_<app>/events_<n>_<app>``; a plain file is one log."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith(("events_", "local-", "app-")) and not f.endswith(".crc"):
                out.append(os.path.join(root, f))

    def order(p: str):
        base = os.path.basename(p)
        part = base.split("_")[1] if base.startswith("events_") else "0"
        return (os.path.dirname(p), int(part) if part.isdigit() else 0)

    return sorted(out, key=order)


def read_events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _walk_plan(node: dict, acc_node: dict) -> None:
    key = (node["nodeName"], node["simpleString"])
    for m in node.get("metrics", ()):
        acc_node[m["accumulatorId"]] = (key, m["name"])
    for child in node.get("children", ()):
        _walk_plan(child, acc_node)


def _new_spark_stage() -> dict:
    return {
        "run_ms": [],
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_write_b": 0,
        "shuffle_read_b": 0,
        "fetch_wait_ms": 0,
        "spill_disk_b": 0,
        "out_b": 0,
        "tasks_failed": 0,
        "nodes": defaultdict(lambda: defaultdict(int)),
    }


def parse(events) -> dict[str | None, dict[int, dict]]:
    """``{job description: {spark stage id: stage record}}``.

    Jobs run without a description land under ``None``; a stage run by
    jobs of two descriptions stays with the first job that submitted it.
    SQL metrics whose plan node is unknown (the plan of a cached relation
    is not always posted) are kept under the node ``("?", "")`` by name,
    so totals such as Python-worker time stay complete. Driver-side SQL
    metrics (a scan's "size of files read") go to stage ``-1`` of the
    description their SQL execution ran under.
    """
    stage_desc: dict[int, str | None] = {}
    exec_desc: dict[int, str | None] = {}
    acc_node: dict[int, tuple] = {}
    driver_updates: list[tuple[int, list]] = []
    out: dict[str | None, dict[int, dict]] = defaultdict(dict)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            for sid in e.get("Stage IDs", ()):
                stage_desc.setdefault(sid, desc)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            if kind.endswith("SQLExecutionStart"):
                exec_desc[e["executionId"]] = e.get("description")
            _walk_plan(e["sparkPlanInfo"], acc_node)
        elif kind.endswith("DriverAccumUpdates"):
            driver_updates.append((e["executionId"], e["accumUpdates"]))
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            rec = out[stage_desc.get(sid)].setdefault(sid, _new_spark_stage())
            if e["Task End Reason"]["Reason"] != "Success":
                rec["tasks_failed"] += 1
            tm = e.get("Task Metrics")
            if tm:
                rec["run_ms"].append(tm["Executor Run Time"])
                rec["cpu_ns"] += tm["Executor CPU Time"]
                rec["gc_ms"] += tm["JVM GC Time"]
                rec["spill_disk_b"] += tm["Disk Bytes Spilled"]
                sr = tm["Shuffle Read Metrics"]
                rec["shuffle_read_b"] += sr["Local Bytes Read"] + sr["Remote Bytes Read"]
                rec["fetch_wait_ms"] += sr["Fetch Wait Time"]
                rec["shuffle_write_b"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                rec["out_b"] += tm["Output Metrics"]["Bytes Written"]
            for a in e["Task Info"].get("Accumulables", ()):
                if a.get("Metadata") != "sql" or "Update" not in a:
                    continue
                key, metric = acc_node.get(a["ID"], (("?", ""), a.get("Name")))
                rec["nodes"][key][metric] += int(a["Update"])
    for exec_id, updates in driver_updates:
        rec = out[exec_desc.get(exec_id)].setdefault(-1, _new_spark_stage())
        for acc_id, value in updates:
            if acc_id in acc_node:
                key, metric = acc_node[acc_id]
                rec["nodes"][key][metric] += int(value)
    return dict(out)


def parse_dir(log_dir: str) -> dict[str | None, dict[tuple, dict]]:
    """:func:`parse` over every application logged under ``log_dir``.
    Stage, accumulator and execution ids restart in each application, so
    each is parsed alone and its stages keyed ``(application, stage id)``."""
    apps: dict[str, list[str]] = defaultdict(list)
    for path in event_files(log_dir):
        rolled = os.path.basename(path).startswith("events_")
        apps[os.path.dirname(path) if rolled else path].append(path)
    out: dict[str | None, dict[tuple, dict]] = defaultdict(dict)
    for app, paths in enumerate(apps.values()):
        for desc, stages in parse(read_events(paths)).items():
            for sid, rec in stages.items():
                out[desc][(app, sid)] = rec
    return dict(out)


# ---------------------------------------------------------------- counters


def _node_sum(stages: dict[int, dict], metric: str, match=None) -> int:
    """Sum of one SQL metric over the plan nodes ``match(node_name,
    simple_string)`` accepts, across the given Spark stages."""
    return sum(
        vals.get(metric, 0)
        for rec in stages.values()
        for (name, simple), vals in rec["nodes"].items()
        if match is None or match(name, simple)
    )


def python_s(stages: dict[int, dict], match=None) -> float:
    return _node_sum(stages, "time to run Python workers", match) / 1e3


def node_rows(stages: dict[int, dict], match) -> int:
    return _node_sum(stages, "number of output rows", match)


def scan_mb(stages: dict[int, dict], column: str) -> float:
    """MB the parquet scans that read ``column`` took from their files.
    (The scan's location is truncated in the plan string, so a table is
    known by a column only it has.)"""
    return _node_sum(
        stages, "size of files read",
        lambda name, simple: name.startswith("Scan") and column in simple.split("]")[0],
    ) / MB


def task_skew(stages: dict[int, dict]) -> float:
    """max/p50 task run time in the Spark stage that ran longest (summed
    task time) among those with at least two tasks: the straggler ratio of
    the stage that sets the benchmark stage's pace."""
    multi = [r["run_ms"] for r in stages.values() if len(r["run_ms"]) >= 2]
    if not multi:
        return 1.0
    runs = max(multi, key=sum)
    return max(runs) / max(statistics.median(runs), 1.0)


def self_s_of_stages_with(stages: dict[int, dict], match) -> float:
    """Task run time minus Python-worker time, summed over the Spark
    stages in which a plan node ``match`` accepts did work."""
    total = 0.0
    for rec in stages.values():
        if any(match(name, simple) for name, simple in rec["nodes"]):
            py = sum(
                v.get("time to run Python workers", 0) for v in rec["nodes"].values()
            )
            total += (sum(rec["run_ms"]) - py) / 1e3
    return total


def layer_counters(stages: dict[int, dict]) -> dict[str, float]:
    """The 12 event-log counters every timed stage reports."""
    return {
        "out_mb": sum(r["out_b"] for r in stages.values()) / MB,
        "cpu_s": sum(r["cpu_ns"] for r in stages.values()) / 1e9,
        "gc_s": sum(r["gc_ms"] for r in stages.values()) / 1e3,
        "python_s": python_s(stages),
        "to_python_mb": _node_sum(stages, "data sent to Python workers") / MB,
        "from_python_mb": _node_sum(stages, "data returned from Python workers") / MB,
        "shuffle_write_mb": sum(r["shuffle_write_b"] for r in stages.values()) / MB,
        "shuffle_read_mb": sum(r["shuffle_read_b"] for r in stages.values()) / MB,
        "fetch_wait_s": sum(r["fetch_wait_ms"] for r in stages.values()) / 1e3,
        "spill_disk_mb": sum(r["spill_disk_b"] for r in stages.values()) / MB,
        "task_skew": task_skew(stages),
        "tasks_failed": sum(r["tasks_failed"] for r in stages.values()),
    }
