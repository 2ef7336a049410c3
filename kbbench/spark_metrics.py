"""Per-layer readings taken from outside the program: wall-clock spans
around public calls, the Spark driver's REST status API (SQL executions,
jobs, stages), and CPU time, peak resident memory and steal from /proc.

Everything here runs outside timed regions."""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Spans:
    """Spans kept in memory: (name, start, end, op id). Written once, at
    the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if self.op is None:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "start": t0, "end": time.time(), "op": self.op}
            )


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _total(value: str) -> str:
    # "total (min, med, max (stageId: taskId))\n1.2 s (322 ms, ...)" -> "1.2 s"
    line = value.split("\n", 1)[-1]
    return line.split(" (", 1)[0].strip()


def metric_seconds(value: str) -> float:
    num, _, unit = _total(value).partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def _gmt(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(tzinfo=timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of sorted intervals: a command's execution
    and the query it runs are listed as two executions that overlap."""
    total, end = 0.0, float("-inf")
    for a, b in intervals:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class RestStatus:
    """Reads the driver's status API, e.g.
    ``/api/v1/applications/<app>/sql?details=true``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def executions(self, t0: float, t1: float) -> list[dict]:
        """SQL executions submitted within [t0, t1] (epoch seconds)."""
        out = []
        for e in self._get("/sql?details=true&planDescription=false&length=100000"):
            sub = _gmt(e["submissionTime"])
            if t0 - 0.001 <= sub <= t1 + 0.001:
                e["_start"] = sub
                out.append(e)
        return out

    def summary(self, execs: list[dict]) -> dict[str, float]:
        """Exchanges, Python-worker time, shuffle, spill and task skew
        over the given executions."""
        exchanges = 0
        python_s = 0.0
        for e in execs:
            for n in e.get("nodes", []):
                if n["nodeName"] == "Exchange":
                    exchanges += 1
                for m in n.get("metrics", []):
                    if n["nodeName"] == "MapInPandas" and m["name"] == "time to run Python workers":
                        python_s += metric_seconds(m["value"])
        job_ids = {j for e in execs for j in e.get("successJobIds", [])}
        stage_ids: set[int] = set()
        if job_ids:
            for j in self._get("/jobs"):
                if j["jobId"] in job_ids:
                    stage_ids.update(j["stageIds"])
        shuffle = spill = 0
        max_sum = med_sum = 0.0
        for s in self._get("/stages"):
            if s["stageId"] not in stage_ids or s["status"] != "COMPLETE":
                continue
            shuffle += s["shuffleWriteBytes"]
            spill += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            if s["numTasks"] >= 2:
                q = self._get(
                    f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )["executorRunTime"]
                med_sum += q[0]
                max_sum += q[1]
        return {
            "exchanges": exchanges,
            "python_eval_s": python_s,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "task_skew": max_sum / med_sum if med_sum else 1.0,
            "sql_s": _covered(sorted((e["_start"], e["_start"] + e["duration"] / 1000.0) for e in execs)),
        }


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


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants:
    the Python driver, the JVM and the Python workers."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``pid`` and its descendants. Time the hypervisor gives to other
    machines (steal) is not in it."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / hz


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def du(path: str, skip: str | None = None) -> dict[str, int]:
    """path -> size of every regular file under ``path``; directories
    whose name contains ``skip`` are left out."""
    out: dict[str, int] = {}
    for root, dirs, files in os.walk(path):
        if skip:
            dirs[:] = [d for d in dirs if skip not in d]
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


