"""Measurement helpers: percentiles, process memory, and the Spark
event-log reader that turns a traced run into engine metrics.

The event log is Spark's own JSON-lines listener log, enabled through
``get_spark(extra_conf=...)``. Every call the benchmark makes into the
program runs under ``setJobDescription("<layer>:<name>")``, so jobs,
SQL executions and tasks can be charged to the call that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

ENGINE_METRICS = ("executor_run_s", "executor_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "tasks", "failed_tasks")


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def p90(values) -> float | None:
    """90th percentile, only when at least ten samples lie beyond it."""
    if len(values) < 100:
        return None
    return float(statistics.quantiles(values, n=10)[-1])


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share of time a virtual
    machine's host gave to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of process ``root`` and every live
    descendant (the driver JVM and its Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = (int(fields[11]) + int(fields[12])) / tick
    total = 0.0
    for pid in cpu:
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += cpu[pid]
    return total


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden and
    marker files."""
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size


def _plan_metrics(info: dict, out: dict) -> None:
    node = re.sub(r"\s*\(\d+\)$", "", info.get("nodeName", "?")).strip()
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["metricType"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


class EventLog:
    """Parsed Spark event log of one application."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        self.jobs: dict[int, dict] = {}  # job id -> {desc, submit_ms}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[tuple[int, dict, bool]] = []  # (stage, metrics, failed)
        self.exec_desc: dict[int, str] = {}
        self.acc_node: dict[int, tuple[str, str]] = {}
        self.stage_accs: list[tuple[int, int, float]] = []  # (stage, acc id, value)
        if not files:
            return
        with open(files[-1]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {"desc": props.get("spark.job.description", ""),
                                               "submit_ms": ev.get("Submission Time", 0)}
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    self.tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}, reason != "Success"))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    for acc in info.get("Accumulables", []):
                        try:
                            self.stage_accs.append((info["Stage ID"], acc["ID"], float(acc["Value"])))
                        except (KeyError, TypeError, ValueError):
                            continue  # non-numeric accumulator
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.exec_desc[ev["executionId"]] = ev.get("description", "")
                    _plan_metrics(ev["sparkPlanInfo"], self.acc_node)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev["sparkPlanInfo"], self.acc_node)
                elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in ev.get("sqlPlanMetrics", []):
                        self.acc_node.setdefault(m["accumulatorId"], ("?", m["metricType"]))

    def _job_of(self, stage: int) -> dict:
        return self.jobs.get(self.stage_job.get(stage, -1), {"desc": "", "submit_ms": 0})

    def engine(self, select) -> dict[str, float]:
        """Task metrics summed over jobs whose record satisfies ``select``."""
        out = dict.fromkeys(ENGINE_METRICS, 0.0)
        for stage, m, failed in self.tasks:
            if not select(self._job_of(stage)):
                continue
            out["tasks"] += 1
            out["failed_tasks"] += failed
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return out

    def operator_time_ms(self, desc: str) -> dict[str, float]:
        """Timing SQL metrics (ms) per physical operator for the jobs
        tagged ``desc``."""
        out: dict[str, float] = {}
        for stage, acc, value in self.stage_accs:
            if self._job_of(stage)["desc"] != desc or acc not in self.acc_node:
                continue
            node, kind = self.acc_node[acc]
            if kind in ("timing", "nsTiming"):
                out[node] = out.get(node, 0.0) + (value / 1e6 if kind == "nsTiming" else value)
        return out

    def dominant_operator(self, desc: str) -> str:
        """The operator with the largest own timing. WholeStageCodegen is
        left out: its duration spans every operator fused into it."""
        times = {k: v for k, v in self.operator_time_ms(desc).items() if k != "WholeStageCodegen"}
        return max(times, key=times.get) if times else "-"
