"""Spans, Spark job attribution and a process-tree memory sampler.

A span wraps one public call of the engine. In a traced run each span tags
the Spark jobs it starts with ``setJobGroup`` (a thread-local property), so
jobs, stages and tasks can be counted per span from the status tracker and
their shuffle, spill and task-time figures read back from the Spark event
log. Spans are kept in memory and written out once, at the end.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the body; yields the span dict (or None)."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = {"id": sid, "name": name,
              "parent": parent["id"] if parent else None,
              "trace": parent["trace"] if parent else sid,
              "group": f"span-{sid}"}
        self.sc.setJobGroup(sp["group"], name)
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["s"] = sp["end"] - sp["start"]
            stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.update(self._job_counts(sp["group"]))
            with self._lock:
                self.spans.append(sp)

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks + si.numFailedTasks:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"spark_jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> None:
        """Add each span's duration minus the time its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            s["self_s"] = s["s"] - covered

    def attach_event_log(self, log_dir: str) -> None:
        """Add shuffle, spill, task-time and failure figures per span from
        the event log Spark wrote (read after the session has stopped)."""
        job_group, stage_group, stage_scopes = {}, {}, defaultdict(set)
        per = defaultdict(lambda: defaultdict(float))
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
                continue
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        job_group[ev["Job ID"]] = g
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                        for st in ev.get("Stage Infos", []):
                            for rdd in st.get("RDD Info", []):
                                scope = rdd.get("Scope")
                                if scope:
                                    stage_scopes[st["Stage ID"]].add(
                                        json.loads(scope).get("name", ""))
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev["Stage ID"])
                        if g is None:
                            continue
                        info = ev.get("Task Info", {})
                        m = ev.get("Task Metrics") or {}
                        acc = per[g]
                        acc["failed_tasks_log"] += bool(info.get("Failed"))
                        acc["task_s"] += m.get("Executor Run Time", 0) / 1000
                        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                               + m.get("Disk Bytes Spilled", 0))
                        if "FlatMapCoGroupsInPandas" in stage_scopes[ev["Stage ID"]]:
                            acc["cogroup_task_s"] += m.get("Executor Run Time", 0) / 1000
        for s in self.spans:
            for k in ("failed_tasks_log", "task_s", "shuffle_write_bytes",
                      "spill_bytes", "cogroup_task_s"):
                s[k] = per[s["group"]][k]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=0)


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this one), read
    from /proc; zombies, which hold no memory and only wait to be reaped,
    are left out."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; state and ppid follow its ')'
        state, ppid = stat[stat.rindex(b")") + 2:].split()[:2]
        if state != b"Z":
            children[int(ppid)].append(int(d))
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)
