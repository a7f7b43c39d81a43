"""Host and process probes read from ``/proc`` and Spark's event log.

Spark in ``local[N]`` is one JVM (a child of this Python driver) plus
Python workers forked by the ``pyspark.daemon`` under it.  The probes
classify that process tree into the JVM and its Python descendants.
"""

from __future__ import annotations

import ctypes
import glob
import json
import os
import signal
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) ticks from the aggregate ``/proc/stat`` line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_share(before, after) -> float | None:
    if before is None or after is None or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def spark_tree() -> tuple[int | None, list[int]]:
    """(JVM pid, pids of Python processes under it)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    me = os.getpid()
    jvm = next(
        (p for p, pp in parent.items() if pp == me and "java" in _comm(p)),
        None,
    )
    if jvm is None:
        return None, []
    below, frontier = [], [jvm]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        below.extend(kids)
        frontier = kids
    return jvm, [p for p in below if _comm(p).startswith("python")]


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    descendant whose parent exits first (a worker of the stopped
    ``pyspark.daemon``) is re-parented here, not to init, so
    ``reap_children`` can wait for it."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children(grace: float = 20.0) -> None:
    """Wait until this process has no child left, own or adopted;
    kill whatever still runs after ``grace`` seconds."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    while True:
        kids = [int(d) for d in os.listdir("/proc")
                if d.isdigit() and (_stat(int(d)) or [0, 0])[1] == str(me)]
        if not kids:
            return
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0 if late else os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.05)


def cpu_seconds() -> tuple[float, float]:
    """(JVM CPU-s, Python-worker CPU-s) consumed so far.  Worker time
    includes reaped children (``cutime``), so forked workers that exit
    between two readings are still counted."""
    jvm, workers = spark_tree()
    j = 0.0
    if jvm is not None:
        st = _stat(jvm)
        if st is not None:
            j = (int(st[11]) + int(st[12])) / _TICK
    w = 0.0
    for pid in workers:
        st = _stat(pid)
        if st is not None:
            w += sum(int(x) for x in st[11:15]) / _TICK
    return j, w


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Samples the Spark tree's RSS every ``period`` seconds while
    active: the peak of the whole tree (JVM + workers) and the peak of
    the largest single Python worker.  The process list (a walk of
    ``/proc``) is refreshed only every ``rescan`` seconds, to keep the
    sampler's own CPU small."""

    def __init__(self, period: float = 0.1, rescan: float = 1.0) -> None:
        self.period = period
        self.rescan = rescan
        self.tree_peak = 0
        self.worker_peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        scanned = 0.0
        while not self._stop.is_set():
            if time.monotonic() - scanned >= self.rescan:
                jvm, workers = spark_tree()
                scanned = time.monotonic()
            if jvm is not None:
                sizes = [_rss_bytes(p) for p in workers]
                self.tree_peak = max(self.tree_peak, _rss_bytes(jvm) + sum(sizes))
                self.worker_peak = max([self.worker_peak, *sizes])
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def event_log_groups(evdir: str) -> dict[str, dict]:
    """Per job group: task count, per-stage task run times (ms),
    shuffle bytes written, input bytes read — from the uncompressed
    event log Spark wrote under ``evdir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for fn in glob.glob(os.path.join(evdir, "*")):
        with open(fn) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(
                        g, {"tasks": 0, "stages": {}, "shuffle_bytes": 0,
                            "input_bytes": 0},
                    )
                    acc["tasks"] += 1
                    acc["stages"].setdefault(ev["Stage ID"], []).append(
                        m.get("Executor Run Time", 0)
                    )
                    acc["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                    )
                    acc["input_bytes"] += (
                        m.get("Input Metrics", {}).get("Bytes Read", 0)
                    )
    return out


def task_skew(group: dict) -> float:
    """max / median task run time in the group's busiest stage."""
    if not group or not group["stages"]:
        return 0.0
    times = max(group["stages"].values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
