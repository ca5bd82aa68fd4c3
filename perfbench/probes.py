"""Outside-the-program probes: a ``/proc`` process-tree sampler (CPU and RSS of
the driver, the JVM and every Python worker) and a reader for Spark's
monitoring REST API.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
import urllib.request
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int, str] | None:
    """(ppid, user+sys CPU seconds, rss bytes, command name) of one process,
    or None if gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'.
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid, utime, stime, rss = int(fields[1]), int(fields[11]), int(fields[12]), int(fields[21])
    return ppid, (utime + stime) / _CLK_TCK, rss * _PAGE, comm


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot, summed over CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def descendants(root: int) -> set[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            st = _stat(int(entry.name))
            if st:
                children.setdefault(st[0], []).append(int(entry.name))
    out, todo = set(), [root]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


class TreeSampler:
    """Samples the process tree rooted at this process every ``interval``
    seconds on a background thread.

    CPU is tracked per pid from its last sample, so a worker that exits
    keeps the CPU it used up to its last sample. ``window()`` opens a
    measuring window and ``close()`` ends it; ``cpu_s()`` and the peaks
    refer to it. ``peak_rss`` is the peak of the whole tree's RSS;
    ``peak_rss_jvm`` is the JVM's part of that same sample.
    """

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self._cpu: dict[int, float] = {}
        self._base: dict[int, float] = {}
        self.peak_rss = 0
        self.peak_rss_jvm = 0
        self._open = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        me = os.getpid()
        rss = jvm = 0
        with self._lock:
            for pid in descendants(me) | {me}:
                st = _stat(pid)
                if st:
                    self._cpu[pid] = st[1]
                    rss += st[2]
                    jvm += st[2] if st[3] == "java" else 0
            if self._open and rss > self.peak_rss:
                self.peak_rss, self.peak_rss_jvm = rss, jvm

    def window(self) -> None:
        self.sample()
        with self._lock:
            self._base = dict(self._cpu)
            self.peak_rss = self.peak_rss_jvm = 0
            self._open = True
        self.sample()

    def close(self) -> None:
        self.sample()
        self._open = False

    def cpu_s(self) -> float:
        """CPU seconds the tree used since ``window()``."""
        self.sample()
        with self._lock:
            return sum(c - self._base.get(pid, 0.0) for pid, c in self._cpu.items())


def stop_tree(pids: set[int], timeout: float = 20.0) -> None:
    """SIGTERM every pid still alive, wait for all to end, SIGKILL stragglers."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = {p for p in pids if _stat(p)}
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while alive and time.monotonic() < deadline:
            for p in list(alive):
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            alive = {p for p in alive if _alive(p)}
            time.sleep(0.05)
        if not alive:
            return


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


# ---------------------------------------------------------------------------
# Spark monitoring REST API
# ---------------------------------------------------------------------------


class SparkRest:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as resp:
            return json.load(resp)

    def last_stage_id(self) -> int:
        return max((s["stageId"] for s in self._get("stages")), default=-1)

    def stats_since(self, stage_id: int) -> dict[str, float]:
        """Task and shuffle totals over every stage after ``stage_id``."""
        stages = [s for s in self._get("stages?details=true") if s["stageId"] > stage_id]
        durations = [
            t["duration"] / 1000
            for s in stages
            for t in (s.get("tasks") or {}).values()
            if t.get("duration") is not None
        ]
        return {
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "spark.tasks_failed": sum(s["numFailedTasks"] for s in stages),
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000,
            "spark.task_s_p50": statistics.median(durations) if durations else 0.0,
            "spark.task_s_max": max(durations, default=0.0),
        }
