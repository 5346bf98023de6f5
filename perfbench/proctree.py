"""CPU and memory of this process and everything it started, read from /proc.

Spark's task metrics see only the JVM; the pandas UDFs run in forked
Python workers that no Spark counter covers.  These readers take the whole
process tree from the outside instead:

* CPU of a process is ``utime + stime + cutime + cstime``: its own time plus
  that of every child it has already reaped.  Summed over the live tree this
  counts each CPU-second once, also for workers that have exited.
* Memory is the sum of each live process's ``VmHWM`` (its peak RSS).
  ``reset_peak_rss`` sets every ``VmHWM`` back to the current RSS, so a
  later sum is the peak since the reset.
"""

from __future__ import annotations

import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")
REAP_TIMEOUT_S = 30.0


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses; the fields after it never do
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), comm, ticks / _CLK


def _tree() -> dict[int, tuple[str, float]]:
    """{pid: (comm, cpu_s)} for this process and all of its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


class CpuReading:
    """One snapshot of the tree's CPU: all of it, and the Python workers'."""

    def __init__(self):
        tree = _tree()
        self.total = sum(cpu for _, cpu in tree.values())
        # every Python process below the driver is a Spark Python worker
        # (the daemon and the workers it forks)
        self.py = sum(
            cpu for pid, (comm, cpu) in tree.items()
            if pid != os.getpid() and comm.startswith("python")
        )


def reset_peak_rss() -> None:
    """Reset VmHWM to the current RSS in every process of the tree."""
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the live process tree, in MB."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def reap_descendants() -> None:
    """Wait for every process this one started to end; kill what lingers."""
    me = os.getpid()
    deadline = time.monotonic() + REAP_TIMEOUT_S
    killed = False
    while time.monotonic() < deadline:
        # collect exited direct children so they do not linger as zombies
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [pid for pid in _tree() if pid != me]
        if not left:
            return
        if not killed and time.monotonic() > deadline - 5.0:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        time.sleep(0.1)
