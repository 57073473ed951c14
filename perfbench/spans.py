"""Tracing and host sampling, all from outside the engine.

* ``Tracer``: spans (name, start, end, parent) kept in memory around
  the benchmark's own calls into the engine's public functions; each
  traced op also runs under its own Spark job group.
* ``EventLog``: reads Spark's event log (the status store's on-disk
  form) and sums stage task metrics and SQL node metrics per job group.
* ``nproc``, ``driver_memory_mib``, ``steal_frac``, ``tree_cpu_s`` and
  ``RssSampler``: host readings from /proc.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time one call; ``group`` tags the Spark jobs it starts (give
        it on top-level spans only: nested spans inherit it)."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "group": group,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext if (group and self.spark) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, dict]:
        """name -> {count, total_s, self_s}: self is the span's duration
        minus the union of its children's intervals."""
        children: dict[int, list] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            covered, cur = 0.0, None
            for c in sorted(children[i], key=lambda c: c["start"]):
                lo, hi = c["start"], c["end"]
                if cur is None or lo > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [lo, hi]
                else:
                    cur[1] = max(cur[1], hi)
            if cur is not None:
                covered += cur[1] - cur[0]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_times": self.self_times()}, f,
                      indent=1)


_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    """Per-job-group totals from one application's event log."""

    def __init__(self, path: str):
        self.job_group: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.job_span: dict[int, list] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_acc: dict[int, dict[int, float]] = {}
        self.stage_acc_name: dict[int, str] = {}
        self.driver_acc: dict[int, tuple] = {}  # acc id -> (exec, value)
        self.acc_node: dict[int, tuple] = {}   # acc id -> (node, metric, type)
        self.exec_plan: dict[int, dict] = {}   # final plan per execution
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            self.job_group[jid] = props.get("spark.jobGroup.id")
            ex = props.get("spark.sql.execution.id")
            self.job_exec[jid] = int(ex) if ex is not None else None
            self.job_span[jid] = [e["Submission Time"], None]
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            self.job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            accs = self.stage_acc.setdefault(info["Stage ID"], {})
            for a in info.get("Accumulables", []):
                try:
                    val = float(a["Value"])
                except (TypeError, ValueError):
                    continue
                accs[a["ID"]] = max(val, accs.get(a["ID"], val))
                self.stage_acc_name[a["ID"]] = a.get("Name") or ""
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan = e["sparkPlanInfo"]
            self.exec_plan[e["executionId"]] = plan
            stack = [plan]
            while stack:
                node = stack.pop()
                for m in node.get("metrics", []):
                    self.acc_node[m["accumulatorId"]] = (
                        node["nodeName"], m["name"], m["metricType"])
                stack.extend(node.get("children", []))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, val in e["accumUpdates"]:
                self.driver_acc[acc_id] = (e["executionId"], float(val))

    def jobs(self, groups) -> list[int]:
        groups = set(groups)
        return [j for j, g in self.job_group.items() if g in groups]

    def _acc_values(self, groups) -> dict[int, float]:
        jobs = set(self.jobs(groups))
        vals: dict[int, float] = {}
        for sid, accs in self.stage_acc.items():
            if self.stage_job.get(sid) in jobs:
                for acc_id, v in accs.items():
                    vals[acc_id] = max(v, vals.get(acc_id, v))
        execs = {self.job_exec[j] for j in jobs} - {None}
        for acc_id, (ex, v) in self.driver_acc.items():
            if ex in execs:
                vals.setdefault(acc_id, v)
        return vals

    def task_metric(self, groups, name: str) -> float:
        """Sum of one ``internal.metrics.*`` task metric over the stages
        of the groups' jobs."""
        return sum(v for a, v in self._acc_values(groups).items()
                   if self.stage_acc_name.get(a) == name)

    def node_metric(self, groups, node_prefix: str, metric: str) -> float:
        """Sum of one SQL metric over plan nodes whose name starts with
        ``node_prefix``; timings are returned in seconds."""
        total = 0.0
        for acc_id, v in self._acc_values(groups).items():
            node = self.acc_node.get(acc_id)
            if node and node[0].startswith(node_prefix) and node[1] == metric:
                scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(node[2], 1.0)
                total += v * scale
        return total

    def arrow_nodes(self, groups) -> int:
        """ArrowEvalPython nodes in the final plans of the groups' SQL
        executions (a node reused by AQE counts once)."""
        seen = set()
        for ex in {self.job_exec[j] for j in self.jobs(groups)} - {None}:
            stack = [self.exec_plan.get(ex, {})]
            while stack:
                node = stack.pop()
                if node.get("nodeName", "").startswith("ArrowEvalPython"):
                    seen.add(tuple(sorted(m["accumulatorId"]
                                          for m in node["metrics"])))
                stack.extend(node.get("children", []))
        return len(seen)

    def job_seconds(self, groups) -> float:
        """Wall time covered by the union of the groups' job intervals."""
        spans = sorted(self.job_span[j] for j in self.jobs(groups)
                       if self.job_span[j][1] is not None)
        total, cur = 0.0, None
        for lo, hi in spans:
            if cur is None or lo > cur[1]:
                if cur is not None:
                    total += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur is not None:
            total += cur[1] - cur[0]
        return total / 1000.0


# -- host -------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_memory_mib() -> int:
    """An eighth of physical memory, clamped to [1, 2] GiB: the machine
    is shared, and the inputs are sized to fit."""
    return max(1024, min(2048, meminfo_kib("MemTotal") // 1024 // 8))


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user time
    return delta[7] / total if total > 0 else 0.0


def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds of a process and all its descendants,
    with the children each has already reaped."""
    kids = _ppid_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
        stack.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _pss_kib(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mib(root_pid: int) -> float:
    """Resident memory of a process and all its descendants, as the sum
    of their proportional set sizes: a page shared by the Python daemon
    and the workers it forked counts once, not once per process."""
    kids = _ppid_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            total += _pss_kib(pid)
        except OSError:
            continue
        stack.extend(kids.get(pid, []))
    return total / 1024


class RssSampler:
    """Peak of the process tree's resident memory while active."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0.0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self._sample()
            self._stop.wait(self.interval)

    def _sample(self) -> None:
        rss = tree_rss_mib(self.root_pid)
        with self._lock:
            self.peak = max(self.peak, rss)

    @contextlib.contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
