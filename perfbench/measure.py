"""Process-tree memory, host CPU steal, on-disk bytes, lineage stage walls,
and shutdown."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time
from pathlib import Path

import numpy as np

_PR_SET_CHILD_SUBREAPER = 36

# lineage stages of a default (checkpointed) build, in WAL order
BUILD_STAGES = ["doc_map", "partials", "terms", "stats", "norms", "pack",
                "commit"]


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values: list[float]) -> float:
    return percentile(values, 50) if values else 0.0


def mean(values: list[float]) -> float:
    return float(np.mean(values)) if values else 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


class StealMeter:
    """Share of the host's CPU time the hypervisor stole over one window.

    Steal slows every timed figure without any change to the program, so a
    run records it next to what it timed."""

    def start(self) -> None:
        self._start = cpu_jiffies()

    def stop(self) -> None:
        self._end = cpu_jiffies()

    def pct(self) -> float:
        total = self._end[0] - self._start[0]
        return 100.0 * (self._end[1] - self._start[1]) / max(total, 1)


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children of all its threads)."""
    out: list[int] = []
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def tree_peak_rss_bytes() -> int:
    """Sum of the peak resident memory of this process and each live
    descendant (the Spark JVM and its Python workers).  An upper bound of
    the tree's peak that needs no sampling thread."""
    me = os.getpid()
    return sum(_hwm_bytes(p) for p in [me, *descendants(me)])


def dir_bytes(path: Path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total


def build_stage_walls(events: list[dict], gen: str) -> list[tuple]:
    """(stage, start_ts, end_ts, event) for each lineage event of ``gen``'s
    build: each event closes the interval since the previous one, so the
    stage walls add up to the build's logged wall."""
    evs = sorted((e for e in events if e.get("gen") == gen),
                 key=lambda e: e["ts"])
    out = []
    for prev, e in zip(evs, evs[1:]):
        if e["stage"] in BUILD_STAGES:
            out.append((e["stage"], prev["ts"], e["ts"], e))
    return out


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    process the Spark JVM started is still found (and waited for) after the
    JVM exited."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the gateway JVM, and wait until every process
    it started (Python worker daemon and workers) has exited.  Needs
    ``adopt_orphans()`` to have run before the session started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        killed = False
        while descendants(os.getpid()):
            if time.monotonic() > deadline:
                if killed:
                    raise RuntimeError("Spark processes outlived SIGKILL")
                for pid in descendants(os.getpid()):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                killed = True
                deadline = time.monotonic() + timeout_s
            try:
                os.waitpid(-1, os.WNOHANG)  # reap adopted orphans
            except ChildProcessError:
                break
            time.sleep(0.05)
