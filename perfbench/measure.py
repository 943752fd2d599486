"""Measurement helpers: spans, Spark event-log attribution, process-tree RSS.

Spans stay in memory and are written once when the run ends. The event-log
parser reads the log Spark writes when ``spark.eventLog.enabled`` is set and
attributes every stage's CPU, GC, shuffle bytes, spill and task times to the
job group the benchmark tagged the op with.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory spans: (name, start, end, parent, op). ``span`` returns the
    new span's id, so a caller can pass it as the parent of later spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, op: str, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "dur": end - start, "op": op, "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- job groups


def job_stage_counts(sc, group: str) -> tuple[int, int]:
    """Jobs and stages Spark ran under ``group``, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, cpu_s, gc_s, run_s, shuffle_write_bytes,
    spill_bytes and task_max_over_median (max/median task run time of the
    group's busiest stage). Reads the newest application log in ``log_dir``
    (call after the session stopped, so the log is complete)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not files:
        return {}
    path = max(files, key=os.path.getmtime)
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    groups: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                rec = groups.setdefault(g, {"jobs": 0, "stages": set()})
                rec["jobs"] += 1
                for s in ev.get("Stage IDs", []):
                    stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "run": m.get("Executor Run Time", 0) / 1e3,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1e3,
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
    out: dict[str, dict] = {}
    for g, rec in groups.items():
        agg = {"jobs": rec["jobs"], "stages": 0, "cpu_s": 0.0, "gc_s": 0.0, "run_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "task_max_over_median": 1.0}
        busiest = (0.0, 1.0)
        for s, sg in stage_group.items():
            if sg != g or s not in tasks:
                continue
            ts = tasks[s]
            agg["stages"] += 1
            agg["cpu_s"] += sum(t["cpu"] for t in ts)
            agg["gc_s"] += sum(t["gc"] for t in ts)
            run = sum(t["run"] for t in ts)
            agg["run_s"] += run
            agg["shuffle_write_bytes"] += sum(t["sw"] for t in ts)
            agg["spill_bytes"] += sum(t["spill"] for t in ts)
            med = statistics.median(t["run"] for t in ts)
            if len(ts) > 1 and run > busiest[0] and med > 0:
                busiest = (run, max(t["run"] for t in ts) / med)
        agg["task_max_over_median"] = busiest[1]
        out[g] = agg
    return out


# ---------------------------------------------------------------------- RSS

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional resident bytes: a page shared by n processes counts 1/n
    in each, so forked Python workers are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes (PSS) of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the RSS of a process tree while ``active`` is set;
    ``take_peak`` returns the largest sum seen since the last call."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval, self.peak = root, interval, 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, tree_rss_bytes(self.root))
            time.sleep(self.interval)

    def take_peak(self) -> int:
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        peak, self.peak = self.peak, 0
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
