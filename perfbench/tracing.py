"""Spans, process-tree sampling and Spark event-log reduction.

Spans are recorded by the benchmark around its calls into the program and
kept in memory until the run ends. Spark jobs and stages read back from the
session's event log become child spans of the pass that ran them: every pass
sets a Spark job group, and the group id names the pass.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
import uuid

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None,
                       self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name, start, end, parent, **attrs) -> dict:
        rec = {"trace_id": self.trace_id, "id": len(self.spans),
               "parent": parent, "name": name, "start": start, "end": end,
               "attrs": attrs}
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# process tree (driver JVM + Python daemon + workers) from /proc
# ---------------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _comm(pid: int) -> str:
    return (_read(f"/proc/{pid}/comm") or "").strip()


def process_tree(root: int) -> list[int]:
    """The session's processes: the JVM (root) and the Python daemon and
    workers under it. Other children, such as the JVM's short-lived
    fork-then-exec helpers, are skipped: a fork briefly maps the whole JVM
    and would count its memory twice."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid == root or _comm(pid).startswith("python"):
            pids.append(pid)
        for task in glob.glob(f"/proc/{pid}/task/*/children"):
            todo.extend(int(c) for c in (_read(task) or "").split())
    return pids


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        statm = _read(f"/proc/{pid}/statm")
        if statm:
            total += int(statm.split()[1]) * _PAGE
    return total


def cpu_s(pids, python_only: bool = False) -> float:
    """User+system CPU seconds of pids (of their Python processes only)."""
    total = 0
    for pid in pids:
        stat = _read(f"/proc/{pid}/stat")
        if not stat:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        if python_only and not comm.startswith("python"):
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


class RssSampler:
    """Samples the RSS of a process tree while a window is open and keeps
    the peak of each window."""

    INTERVAL_S = 0.02
    TREE_EVERY = 10  # re-list the tree every 10th sample

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peaks: list[int] = []
        self._open = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        n = 0
        pids = []
        while not self._stop.is_set():
            if self._open.is_set():
                if n % self.TREE_EVERY == 0:
                    pids = process_tree(self.root_pid)
                n += 1
                rss = rss_bytes(pids)
                self.peaks[-1] = max(self.peaks[-1], rss)
            time.sleep(self.INTERVAL_S)

    @contextlib.contextmanager
    def window(self):
        self.peaks.append(rss_bytes(process_tree(self.root_pid)))
        self._open.set()
        try:
            yield
        finally:
            self._open.clear()

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _union_s(intervals) -> float:
    """Length in seconds of the union of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class EventLog:
    """Jobs, stages and task metrics of one Spark application, by job
    group."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "execution": props.get("spark.sql.execution.id"),
                        "start": ev["Submission Time"], "end": None,
                        "stages": []}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage = self.stages.setdefault(sid, _new_stage(sid))
                    stage["start"] = info["Submission Time"]
                    stage["end"] = info["Completion Time"]
                    stage["acc"] = {a["Name"]: a.get("Value")
                                    for a in info["Accumulables"]}
                    self.jobs[stage_job[sid]]["stages"].append(sid)
                elif kind == "SparkListenerTaskEnd":
                    stage = self.stages.setdefault(ev["Stage ID"],
                                                   _new_stage(ev["Stage ID"]))
                    stage["tasks"].append(_task(ev))

    def group_jobs(self, group: str) -> list[dict]:
        return sorted((j for j in self.jobs.values()
                       if j["group"] == group and j["end"] is not None),
                      key=lambda j: j["start"])

    def group_stages(self, group: str) -> list[dict]:
        return [self.stages[sid] for j in self.group_jobs(group)
                for sid in j["stages"] if self.stages[sid]["end"]]


def _new_stage(sid: int) -> dict:
    return {"id": sid, "start": None, "end": None, "acc": {}, "tasks": []}


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return {
        "wall_ms": info["Finish Time"] - info["Launch Time"],
        "gc_ms": m.get("JVM GC Time", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
        "shuffle_read_bytes": (sr.get("Local Bytes Read", 0)
                               + sr.get("Remote Bytes Read", 0)),
    }


def _acc_int(stage: dict, name: str) -> int:
    try:
        return int(stage["acc"].get(name) or 0)
    except (TypeError, ValueError):
        return 0


def stage_kind(stage: dict) -> str:
    """python > write > scan > other, from what the stage's tasks did."""
    if "data sent to Python workers" in stage["acc"]:
        return "python"
    if any(t["output_bytes"] for t in stage["tasks"]):
        return "write"
    if any(t["input_bytes"] for t in stage["tasks"]):
        return "scan"
    return "other"


def pass_metrics(log: EventLog, groups: list[str],
                 pass_wall_s: float) -> dict:
    """Spark-side metrics of one pass: the stages of its job groups."""
    stages = [st for g in groups for st in log.group_stages(g)]
    by_kind: dict[str, list[dict]] = {}
    for st in stages:
        by_kind.setdefault(stage_kind(st), []).append(st)

    def tasks(*kinds):
        return [t for k in kinds for st in by_kind.get(k, [])
                for t in st["tasks"]]

    def walls(*kinds):
        return _union_s((st["start"], st["end"])
                        for k in kinds for st in by_kind.get(k, []))

    py_walls = [t["wall_ms"] for t in tasks("python")]
    py_median = statistics.median(py_walls) if py_walls else 0
    busy = _union_s((st["start"], st["end"]) for st in stages)
    out = {
        "spark.scan.s": walls("scan"),
        "spark.scan.bytes": sum(t["input_bytes"] for st in stages
                                for t in st["tasks"]),
        "spark.salt_shuffle.write_bytes": sum(
            t["shuffle_write_bytes"] for t in tasks("scan")),
        "spark.salt_shuffle.write_s": sum(
            t["shuffle_write_ns"] for t in tasks("scan")) / 1e9,
        "spark.salt_shuffle.read_bytes": sum(
            t["shuffle_read_bytes"] for t in tasks("python")),
        "spark.python.s": walls("python"),
        "spark.python.bytes_sent": sum(
            _acc_int(st, "data sent to Python workers")
            for st in by_kind.get("python", [])),
        "spark.python.bytes_received": sum(
            _acc_int(st, "data returned from Python workers")
            for st in by_kind.get("python", [])),
        "spark.python.tasks": len(py_walls),
        "spark.python.task_skew": (max(py_walls) / py_median
                                   if py_median else 0.0),
        "spark.other.s": walls("other", "write"),
        "spark.gc_s": sum(t["gc_ms"] for st in stages
                          for t in st["tasks"]) / 1000.0,
        "spark.stage_busy_share": busy / pass_wall_s if pass_wall_s else 0.0,
        "spark.driver_s": max(0.0, pass_wall_s - busy),
        "spark.jobs": sum(len(log.group_jobs(g)) for g in groups),
        "spark.shuffle_bytes": sum(t["shuffle_write_bytes"] for st in stages
                                   for t in st["tasks"]),
    }
    out.update(_write_split(log, groups))
    return out


def _write_split(log: EventLog, groups: list[str]) -> dict:
    """Data write vs what follows it (read-back, manifest, commit): the
    first SQL execution that writes files is the data write."""
    jobs = [j for g in groups for j in log.group_jobs(g)]
    by_exec: dict = {}
    for j in jobs:
        by_exec.setdefault(j["execution"], []).append(j)
    for execution, ejobs in by_exec.items():
        written = sum(t["output_bytes"] for j in ejobs for sid in j["stages"]
                      for t in log.stages[sid]["tasks"])
        if written:
            w_start = min(j["start"] for j in ejobs)
            w_end = max(j["end"] for j in ejobs)
            last = max(j["end"] for j in jobs)
            return {"spark.write.s": (w_end - w_start) / 1000.0,
                    "spark.write.bytes": written,
                    "spark.manifest.s": (last - w_end) / 1000.0}
    return {"spark.write.s": 0.0, "spark.write.bytes": 0,
            "spark.manifest.s": 0.0}


def add_spark_spans(tracer: Tracer, log: EventLog, group: str,
                    parent: int) -> None:
    """Jobs and stages of a pass as child spans of the pass span."""
    for job in log.group_jobs(group):
        js = tracer.add(f"spark.job.{job['id']}", job["start"] / 1000.0,
                        job["end"] / 1000.0, parent,
                        execution=job["execution"])
        for sid in job["stages"]:
            st = log.stages[sid]
            if st["end"]:
                tracer.add(f"spark.stage.{sid}", st["start"] / 1000.0,
                           st["end"] / 1000.0, js["id"],
                           kind=stage_kind(st), tasks=len(st["tasks"]))


def find_event_log(log_dir: str) -> str:
    """The newest application log in log_dir (one per Spark session)."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p) and not p.endswith(".inprogress")]
    return max(logs, key=os.path.getmtime)
