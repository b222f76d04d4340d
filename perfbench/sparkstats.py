"""Outside-in Spark counters: executed-plan node counts, the local status
REST API per job group, and process-tree RSS from ``/proc``."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from urllib.parse import urlparse

_SCAN = re.compile(r"\bFileScan\b|\bScan parquet\b")
_EXCHANGE = re.compile(r"\b(?:Exchange|ReusedExchange)\b")
# Spark's Python plan nodes: MapInPandas, MapInArrow, ArrowEvalPython, ...
_PYTHON = re.compile(r"\b[A-Z]\w*(?:InPandas|InArrow|Python)\b")


def plan_counts(df):
    """Node counts of ``df``'s executed plan (call after an action on it).

    With AQE the plan string carries the final plan followed by the
    initial one; only the final plan is counted.
    """
    text = df._jdf.queryExecution().executedPlan().toString()
    final = text.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    return {
        "job.plan_scans": sum(1 for ln in lines if _SCAN.search(ln)),
        "job.plan_exchanges": sum(1 for ln in lines if _EXCHANGE.search(ln)),
        "job.plan_python_nodes": sum(1 for ln in lines if _PYTHON.search(ln)),
    }


class StatusApi:
    """Spark's monitoring REST API on the local UI port."""

    def __init__(self, sc):
        port = urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _jobs(self, group, timeout_s=30.0):
        # The status store is fed by an asynchronous listener bus: wait
        # until every job of the group has left RUNNING.
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError(f"job group {group!r} did not settle")
            time.sleep(0.2)

    def group_stats(self, group, wall_s, cores):
        """Executor run time, shuffle writes and task skew of one job group.

        The extract stage is the completed stage with the largest summed
        executor run time; ``task_skew`` is its max / median task run time.
        """
        stages = []
        for job in self._jobs(group):
            for sid in job["stageIds"]:
                for attempt in self._get(f"/stages/{sid}"):
                    if attempt["status"] == "COMPLETE":
                        stages.append(attempt)
        run_ms = sum(s["executorRunTime"] for s in stages)
        shuffle = sum(s["shuffleWriteBytes"] for s in stages)
        task_skew = 0.0
        if stages:
            top = max(stages, key=lambda s: s["executorRunTime"])
            tasks = self._get(f"/stages/{top['stageId']}/{top['attemptId']}"
                              f"/taskList?length=100000")
            times = [t["taskMetrics"]["executorRunTime"] for t in tasks
                     if t.get("status") == "SUCCESS"]
            med = statistics.median(times) if times else 0
            task_skew = max(times) / med if med else 0.0
        return {
            "job.extract_busy": run_ms / 1e3 / (cores * wall_s) if wall_s else 0.0,
            "job.shuffle_write_mb": shuffle / 1e6,
            "job.task_skew": task_skew,
        }


def _process_table():
    """({ppid: [pid]}, {pid: rss bytes}) for every process in /proc."""
    children = {}
    rss = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    return children, rss


def _walk(children, root_pid):
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def process_tree(root_pid):
    """``root_pid`` and all its live descendants."""
    return _walk(_process_table()[0], root_pid)


def _tree_rss_bytes(root_pid):
    children, rss = _process_table()
    return sum(rss.get(pid, 0) for pid in _walk(children, root_pid))


class RssSampler:
    """Peak RSS of a process tree (JVM + Python workers), sampled in a thread."""

    def __init__(self, root_pid, interval_s=0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False
