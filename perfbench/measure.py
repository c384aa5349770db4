"""Measurement from outside the program: the process tree in ``/proc``,
spans kept in memory, and Spark's REST status API.

Nothing here imports the package under test. Spans are recorded by the
benchmark around its calls into each layer; executor work is attributed
to a span through the job group the benchmark sets before the call.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import urllib.request

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """Samples the benchmark's process tree (driver Python, JVM, Python
    workers) on a background thread: peak resident memory and CPU time of
    the whole tree, and CPU time and PIDs of the ``pyspark.daemon`` tree."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self.cpu_ticks = 0
        self.peak_parts = {"driver": 0, "jvm": 0, "workers": 0}
        self.worker_ticks: dict[int, int] = {}
        self._kind: dict[int, str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def _part(self, pid: int) -> str:
        """Which part of the tree a process is: driver, jvm or workers."""
        if pid == self.root:
            return "driver"
        if self._kind.get(pid, "other") == "other":
            # re-read until known: the JVM starts as a launcher script
            # that later execs java under the same PID
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                return "other"
            self._kind[pid] = (
                "workers" if b"pyspark.daemon" in cmd
                else "jvm" if cmd.split(b"\0")[0].endswith(b"java")
                else "other"
            )
        return self._kind[pid]

    def sample(self) -> None:
        stats = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited between listdir and open
                continue
            # fields[1] = ppid, [11]/[12] = utime/stime, [13]/[14] = the
            # same for reaped children, [21] = rss pages
            stats[int(name)] = (
                int(fields[1]), sum(map(int, fields[11:15])),
                int(fields[21]),
            )
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        parts = dict.fromkeys(self.peak_parts, 0)
        with self._lock:
            for pid in tree:
                part = self._part(pid) if pid in stats else "other"
                if part == "other" or (
                    part == "jvm" and self._part(stats[pid][0]) == "jvm"
                ):
                    # a child the JVM is spawning: until it execs it shows
                    # the parent's (shared) memory
                    continue
                parts[part] += stats[pid][2] * PAGE
                if part == "workers":
                    self.worker_ticks[pid] = max(
                        self.worker_ticks.get(pid, 0), stats[pid][1]
                    )
            self.cpu_ticks = sum(stats[p][1] for p in tree if p in stats)
            self.peak_rss = max(self.peak_rss, sum(parts.values()))
            for part, value in parts.items():
                self.peak_parts[part] = max(self.peak_parts[part], value)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the whole tree."""
        self.sample()
        with self._lock:
            return self.cpu_ticks / TICK

    def workers(self) -> tuple[float, int]:
        """(CPU seconds, distinct PIDs) of Python workers seen so far."""
        self.sample()
        with self._lock:
            return sum(self.worker_ticks.values()) / TICK, len(self.worker_ticks)


def descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    found, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


class Spans:
    """Spans kept in memory: (name, start, end, parent, op id, attrs)."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, op=None, **attrs) -> dict:
        span = {"name": name, "start": start, "end": end,
                "parent": parent, "op": op, **attrs}
        self.spans.append(span)
        return span

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / TICK


def epoch(ts: str | None) -> float | None:
    # REST timestamps read like 2026-10-17T03:00:10.123GMT
    if not ts:
        return None
    return dt.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class Rest:
    """Reader for the Spark UI's REST API (enabled in traced runs only)."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def cached_bytes(self) -> int:
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self.get("/storage/rdd"))

    def jobs_and_stages(self) -> tuple[list, dict]:
        """All jobs (with epoch times) and stages by id, once the status
        store has caught up: no job running and the same job count on two
        reads in a row."""
        deadline = time.time() + 20
        jobs = self.get("/jobs")
        while time.time() < deadline:
            time.sleep(0.3)
            again = self.get("/jobs")
            settled = len(again) == len(jobs) and all(
                j["status"] != "RUNNING" for j in again
            )
            jobs = again
            if settled:
                break
        for job in jobs:
            job["t0"] = epoch(job.get("submissionTime"))
            job["t1"] = epoch(job.get("completionTime"))
        stages = {}
        for st in self.get("/stages?status=complete"):
            prev = stages.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                stages[st["stageId"]] = st
        return jobs, stages


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
