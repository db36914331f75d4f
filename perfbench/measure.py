"""Measurement helpers: percentiles, the tail rule, process-tree CPU and
memory read from /proc (the JVM and the Python workers are descendants of
the benchmark process), and ending that tree before the benchmark exits."""

from __future__ import annotations

import ctypes
import os
import signal
import time

TAIL_BEYOND = 10  # samples a reported tail must have beyond it


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it: the (TAIL_BEYOND + 1)-th largest sample.

    With too few samples that rank falls below the median; the tail is then
    the largest sample and its percentile is 100.
    """
    s = sorted(xs)
    k = len(s) - TAIL_BEYOND - 1
    if k < len(s) // 2:
        return s[-1], 100.0
    return s[k], 100.0 * (k + 1) / len(s)


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat", "rb") as fh:
                    raw = fh.read().decode("ascii", "replace")
            except OSError:
                continue  # the process exited while we listed
            kids.setdefault(int(raw[raw.rindex(")") + 2:].split()[1]), []).append(int(p))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own parent
    exits first (a Python worker whose JVM ended), so that end_descendants
    can find, stop and reap it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    """Collect every child that has exited, so none is left a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 20.0) -> None:
    """Ask every remaining descendant to stop (SIGTERM, then SIGKILL after
    ``grace_s``) and wait until each one has ended and been reaped."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        alive = [p for p in _tree(me) if p != me]
        if not alive:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used by the live process tree, including children it has
    already reaped (so exited Python workers still count)."""
    ticks = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_bytes(root: int | None = None) -> int:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree. Short-lived children (forks that exec a shell command) are left
    out: while they live they show their parent's pages as their own."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def host_info() -> dict:
    mem_kb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024 if mem_kb else None}
