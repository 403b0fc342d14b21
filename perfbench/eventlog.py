"""Reduce a Spark event log to the benchmark's ``spark.*`` layer metrics.

The traced session writes an uncompressed, non-rolling event log. Every
timed op runs under ``setJobDescription(tag)``; jobs, stages and tasks
are attributed to the op through that description. SQL metrics (Python
worker time and bytes) come from task accumulables, typed by the plan
nodes that declare them.
"""

from __future__ import annotations

import glob
import json
import os

_PY_TIME = ("time to run Python workers",)
_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"

SPARK_METRICS = (
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.core_util", "spark.python_worker_s", "spark.py_bytes_in",
    "spark.py_bytes_out", "spark.shuffle_bytes", "spark.shuffle_write_s",
    "spark.fetch_wait_s", "spark.peak_exec_mem_bytes", "spark.spill_bytes",
    "spark.jobs", "spark.tasks", "spark.driver_residue_s",
)


def log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {len(files)}")
    return files[0]


def _metric_types(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m.get("metricType", "sum")
    for child in node.get("children", ()):
        _metric_types(child, out)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond spans."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def _empty_op() -> dict:
    return {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "py_s": 0.0, "py_in": 0,
            "py_out": 0, "shuffle_bytes": 0, "shuffle_write_ns": 0,
            "fetch_wait_ms": 0, "peak_mem": 0, "spill": 0, "jobs": 0,
            "tasks": 0, "spans": []}


def reduce_log(path: str, walls: dict[str, float], cores: int):
    """(workload metrics, per-op records) over the ops in ``walls``.

    ``walls`` maps each timed op's job description to its measured wall
    seconds. A per-op record keeps the raw sums; the workload metrics add
    them up, except ``peak_exec_mem_bytes`` (a max) and ``core_util``
    (executor run time over wall x cores)."""
    stage_tag: dict[int, str] = {}
    acc_type: dict[int, str] = {}
    ops = {tag: _empty_op() for tag in walls}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get("spark.job.description")
                if tag in ops:
                    ops[tag]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_tag[sid] = tag
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _metric_types(ev["sparkPlanInfo"], acc_type)
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"])
                if tag is not None:
                    _add_task(ops[tag], ev, acc_type)
    per_op = {}
    for tag, o in ops.items():
        covered = _union_s(o.pop("spans"))
        per_op[tag] = dict(o, wall_s=walls[tag], task_covered_s=covered,
                           driver_residue_s=walls[tag] - covered)
    wall = sum(walls.values())
    run_s = sum(o["run_ms"] for o in per_op.values()) / 1e3
    metrics = {
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(o["cpu_ns"] for o in per_op.values()) / 1e9,
        "spark.gc_s": sum(o["gc_ms"] for o in per_op.values()) / 1e3,
        "spark.core_util": run_s / (wall * cores) if wall else 0.0,
        "spark.python_worker_s": sum(o["py_s"] for o in per_op.values()),
        "spark.py_bytes_in": sum(o["py_in"] for o in per_op.values()),
        "spark.py_bytes_out": sum(o["py_out"] for o in per_op.values()),
        "spark.shuffle_bytes": sum(o["shuffle_bytes"] for o in per_op.values()),
        "spark.shuffle_write_s": sum(o["shuffle_write_ns"]
                                     for o in per_op.values()) / 1e9,
        "spark.fetch_wait_s": sum(o["fetch_wait_ms"] for o in per_op.values()) / 1e3,
        "spark.peak_exec_mem_bytes": max((o["peak_mem"] for o in per_op.values()),
                                         default=0),
        "spark.spill_bytes": sum(o["spill"] for o in per_op.values()),
        "spark.jobs": sum(o["jobs"] for o in per_op.values()),
        "spark.tasks": sum(o["tasks"] for o in per_op.values()),
        "spark.driver_residue_s": sum(o["driver_residue_s"]
                                      for o in per_op.values()),
    }
    return metrics, per_op


def _add_task(o: dict, ev: dict, acc_type: dict[int, str]) -> None:
    info = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    o["tasks"] += 1
    o["spans"].append((info["Launch Time"], info["Finish Time"]))
    o["run_ms"] += tm.get("Executor Run Time", 0)
    o["cpu_ns"] += tm.get("Executor CPU Time", 0)
    o["gc_ms"] += tm.get("JVM GC Time", 0)
    o["peak_mem"] = max(o["peak_mem"], tm.get("Peak Execution Memory", 0))
    o["spill"] += tm.get("Disk Bytes Spilled", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    o["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    o["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
    o["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get(
        "Fetch Wait Time", 0)
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name")
        if name not in _PY_TIME and name not in (_PY_IN, _PY_OUT):
            continue
        value = float(acc.get("Update") or 0)
        if name == _PY_IN:
            o["py_in"] += int(value)
        elif name == _PY_OUT:
            o["py_out"] += int(value)
        else:
            o["py_s"] += _seconds(value, acc_type.get(acc["ID"], "timing"))
