"""Instruments for the benchmark: in-memory spans, a process-tree RSS
sampler, and a reader for Spark's JSON event log.

None of these reach inside the program under test.  Spans wrap the
calls the benchmark makes into the program's public functions, and
tag the Spark jobs those calls start (``setJobDescription``); the event
log then attributes jobs, tasks, shuffle bytes and SQL-operator
metrics back to the span that was open when each job started.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# ------------------------------------------------------------------ spans


class Tracer:
    """Spans (id, name, start, end, parent, run id) kept in memory.

    A disabled tracer records nothing and tags no jobs, so the untraced
    run pays only a no-op context manager per call."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = None  # set once a session exists: spans tag jobs
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = {"id": len(self.spans), "name": name, "run_id": self.run_id,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "start": time.monotonic(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self._tag(name)
        try:
            yield
        finally:
            s["end"] = time.monotonic()
            self._stack.pop()
            self._tag(self._stack[-1]["name"] if self._stack else None)

    def _tag(self, name):
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)

    def self_times(self) -> dict:
        """span name -> total self time (duration minus the part of it
        its child spans cover), summed over every span of that name."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + (s["end"] - s["start"]) - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f, indent=1)


# ------------------------------------------------------------ memory


def _children_map() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live descendant of ``root``; the start
    time tells a reused pid apart from the original process."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                out.append((pid, f.read().rsplit(")", 1)[1].split()[19]))
        except OSError:
            continue
    return out


def tree_rss_bytes(root: int, descend: bool = True) -> int:
    """Summed RSS of ``root`` and all its descendants (the driver, the
    JVM it launched, and the JVM's Python workers); ``descend=False``
    counts ``root`` alone."""
    kids = _children_map() if descend else {}
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ------------------------------------------------------- event log


def event_log_conf(log_dir: str) -> dict:
    """Session conf that writes one uncompressed JSON event log file."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false"}


def _plan_nodes(info: dict, out: list) -> None:
    out.append(info)
    for ch in info.get("children", ()):
        _plan_nodes(ch, out)


class EventLog:
    """Jobs, stages, tasks and SQL-operator metrics of one application,
    grouped by the job description (the span name) each job carried."""

    def __init__(self, path: str):
        self.job_tag: dict = {}       # job id -> description
        self.stage_tag: dict = {}     # stage id -> description
        self.tasks: dict = {}         # description -> [task metrics]
        self.exec_tag: dict = {}      # sql execution id -> description
        self.nodes: dict = {}         # accumulator id -> (exec, node, metric)
        self.acc: dict = {}           # accumulator id -> summed updates
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get("spark.job.description")
            self.job_tag[e["Job ID"]] = tag
            for sid in e["Stage IDs"]:
                self.stage_tag[sid] = tag
        elif kind == "SparkListenerTaskEnd":
            tag = self.stage_tag.get(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(tag, []).append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0))})
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                if a.get("Metadata") == "sql":
                    self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + int(
                        a["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            eid = e["executionId"]
            if kind.endswith("SQLExecutionStart"):
                self.exec_tag[eid] = e.get("description")
            nodes: list = []
            _plan_nodes(e["sparkPlanInfo"], nodes)
            for n in nodes:
                for m in n.get("metrics", ()):
                    self.nodes[m["accumulatorId"]] = (eid, n["nodeName"],
                                                      m["name"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e.get("accumUpdates", ()):
                self.acc[aid] = self.acc.get(aid, 0) + int(v)

    def spark_totals(self, tags) -> dict:
        """Jobs, stages, tasks, shuffle bytes, spill, GC and executor
        run time over the jobs whose description is in ``tags``."""
        tags = set(tags)
        tasks = [t for tag in tags for t in self.tasks.get(tag, ())]
        return {
            "jobs": sum(1 for t in self.job_tag.values() if t in tags),
            "stages": sum(1 for t in self.stage_tag.values() if t in tags),
            "tasks": len(tasks),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000,
        }

    def task_skew(self, tags) -> float:
        """max / median task run time of the busiest stage (by summed
        run time) among the jobs tagged ``tags``; 0 when none ran."""
        by_stage: dict = {}
        for tag in set(tags):
            for t in self.tasks.get(tag, ()):
                by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        if not by_stage:
            return 0.0
        runs = sorted(max(by_stage.values(), key=sum))
        med = runs[len(runs) // 2]
        return runs[-1] / med if med else float(runs[-1] > 0)

    def sql_metric(self, tags, node_name: str, metric: str) -> int:
        """Sum of one SQL metric over every ``node_name`` operator of
        the SQL executions tagged ``tags`` (timings are in ms)."""
        tags = set(tags)
        return sum(v for aid, v in self.acc.items()
                   if aid in self.nodes
                   and self.nodes[aid][1] == node_name
                   and self.nodes[aid][2] == metric
                   and self.exec_tag.get(self.nodes[aid][0]) in tags)
