"""CPU time and peak resident memory of a process tree, read from /proc.

The benchmark process is the root: it owns the Spark driver JVM, which
owns the Python daemon and its forked workers. Times include reaped
children (``cutime``/``cstime``), so workers that exit are still
counted.

The benchmark process makes itself a child subreaper, so anything a
descendant leaves behind is re-parented to it; ``reap_all`` then ends
and waits for every process the run started.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return data[data.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_bytes(pids: list[int]) -> int:
    """Sum of the kernel's resident-memory high-water marks (VmHWM) of
    ``pids``: each process's exact peak since it started."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended between listing and reading
            pass
    return total


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_all(timeout: float = 30.0) -> None:
    """Kill every live descendant of this process and wait until all of
    them have ended and been reaped."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        live = [p for p in tree(me)[1:] if alive(p)]
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children left at all
            if not live:
                return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {live}")
        time.sleep(0.05)
