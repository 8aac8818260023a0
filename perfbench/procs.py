"""CPU time and peak memory of this process and its descendants: the
driver Python process, its JVM and the JVM's Python workers; and the
shutdown that ends every one of them before the benchmark exits."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux),
    so the Python workers the JVM leaves behind become our children and
    ``end_descendants`` can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_spark(grace_s: float = 60.0) -> None:
    """Stop the active SparkContext and its JVM and wait for the JVM to
    exit. The JVM exits on its own once its stdin closes, but only after
    this process has gone; closing stdin here makes it exit now."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_descendants(grace_s: float = 20.0) -> None:
    """Terminate every remaining descendant and wait until each has ended:
    SIGTERM first, SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        left = [p for p in _tree() if p != os.getpid() and not _zombie(p)]
        if not left or time.monotonic() > deadline + grace_s:
            break
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        time.sleep(0.1)
    _reap()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _zombie(pid: int) -> bool:
    try:
        return _fields(f"/proc/{pid}/stat")[0] == "Z"
    except OSError:
        return True


def _tree() -> list[int]:
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while listing
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.extend(kids)
        frontier.extend(kids)
    return tree


def _fields(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def cpu_seconds() -> float:
    """User+system CPU seconds of the tree, including reaped children
    (exited Python workers) and the JVM's JIT compiler threads. Time
    the host steals from this VM is in no process's CPU time."""
    total = 0
    for pid in _tree():
        try:
            total += sum(int(x) for x in _fields(f"/proc/{pid}/stat")[11:15])
        except OSError:  # exited while reading
            continue
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) in the tree."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(line.split()[1]) for line in fh
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0
