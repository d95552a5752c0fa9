"""Spans, job groups and Spark event-log metrics for the benchmark.

Spans are kept in memory and written once at exit. Every timed call runs
under a Spark job group of its own (``<span name>#<span index>``), so the
event log's stages can be attributed to the call, and so the layer, that
launched them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

# physical plan nodes that run Python code (pandas/Arrow UDFs, mapIn*)
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


class Tracer:
    """Records (name, group, start, end, parent, workload) spans in memory."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.spans[self._stack[-1]]["group"] if self._stack else None
        rec = {"name": name, "group": f"{name}#{len(self.spans)}", "start": time.time(),
               "end": None, "parent": parent, "workload": self.workload}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    sc.setJobGroup(outer["group"], outer["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def timed(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` under a span; returns (result, seconds)."""
        with self.span(name) as rec:
            out = fn(*args, **kwargs)
        return out, rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain (uncompressed, single-file) event log; Spark 4.1 otherwise
    writes rolling zstd logs."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _row_accumulators(plan: dict, is_node, out: dict[int, str]) -> None:
    """Accumulator id -> node name of the 'number of output rows' metric of
    every plan node whose name satisfies ``is_node``."""
    node = plan.get("nodeName", "")
    if is_node(node):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[int(m["accumulatorId"])] = node
    for child in plan.get("children", []):
        _row_accumulators(child, is_node, out)


def _is_python(node: str) -> bool:
    return any(m in node for m in PYTHON_NODE_MARKERS)


def _is_scan(node: str) -> bool:
    return node.startswith(("Scan ", "FileScan", "BatchScan"))


def parse_event_log(path: str, groups: set[str] | None = None) -> dict:
    """Engine metrics of the jobs whose job group is in ``groups`` (all
    jobs when None), plus per-group breakdowns of task time and of
    Python-node output rows over every job group."""
    stage_group: dict[int, str] = {}
    py_acc: dict[int, str] = {}
    scan_acc: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    acc_sum: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    tot = defaultdict(float)
    by_group = defaultdict(float)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if groups is None or g in groups:
                    tot["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                plan = ev.get("sparkPlanInfo") or {}
                _row_accumulators(plan, _is_python, py_acc)
                _row_accumulators(plan, _is_scan, scan_acc)
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if sid not in stage_group:
                    continue
                info = ev.get("Task Info") or {}
                g = stage_group[sid]
                for acc in info.get("Accumulables", []):
                    try:
                        acc_sum[g][int(acc["ID"])] += int(acc.get("Update") or 0)
                    except (TypeError, ValueError):
                        pass
                if groups is not None and g not in groups:
                    continue
                m = ev.get("Task Metrics") or {}
                tot["tasks"] += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if info.get("Failed") or reason != "Success":
                    tot["failed_tasks"] += 1
                run_s = m.get("Executor Run Time", 0) / 1e3
                # the task's wall time outside its own work, as Spark's UI
                # reports it
                delay_ms = (info.get("Finish Time", 0) - info.get("Launch Time", 0)
                            - m.get("Executor Run Time", 0)
                            - m.get("Executor Deserialize Time", 0)
                            - m.get("Result Serialization Time", 0)
                            - info.get("Getting Result Time", 0))
                tot["scheduler_delay_s"] += max(delay_ms, 0) / 1e3
                stage_tasks[sid].append(run_s)
                tot["task_s"] += run_s
                by_group[g] += run_s
                tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                tot["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                tot["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    longest = max(stage_tasks.values(), key=sum, default=[])
    med = statistics.median(longest) if longest else 0.0
    out = {k: tot[k] for k in (
        "task_s", "cpu_s", "gc_s", "scheduler_delay_s", "fetch_wait_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "jobs", "tasks", "failed_tasks",
    )}
    out["skew"] = (max(longest) / med) if med > 0 else 1.0
    # accumulator ids are known only once every plan has been read
    py_rows: dict[str, dict[str, int]] = {}
    for g, accs in acc_sum.items():
        for a, v in accs.items():
            if a in py_acc:
                by_node = py_rows.setdefault(g, {})
                by_node[py_acc[a]] = by_node.get(py_acc[a], 0) + v
    selected = [g for g in acc_sum if groups is None or g in groups]
    out["python_rows"] = sum(sum(py_rows.get(g, {}).values()) for g in selected)
    out["scan_rows"] = sum(v for g in selected for a, v in acc_sum[g].items() if a in scan_acc)
    out["python_rows_by_group"] = py_rows
    out["task_s_by_group"] = dict(by_group)
    return out
