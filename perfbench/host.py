"""Process-tree and host counters read from /proc.

CPU and peak RSS cover the whole process tree of the benchmark: the Python
driver, the JVM it launches and the JVM's Python workers. Steal and load
annotate a run so that a noisy one can be found afterwards; they are not
metrics. ``end_processes`` makes sure every process of the tree has ended
when the run stops.
"""

from __future__ import annotations

import os
import signal
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:  # the process ended while we looked
            continue
        # field 2 (comm) may contain spaces; the fields after it are fixed
        out[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree() -> list[int]:
    """This process and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """User+system CPU of the tree, including reaped children (cutime/cstime)."""
    total = 0
    for pid in tree():
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after comm: state=0 … utime=11 stime=12 cutime=13 cstime=14
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb() -> dict[str, float]:
    """Per-process peak resident set (VmHWM) summed over the tree, split into
    the JVM and the Python processes (driver, daemon, workers)."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in tree():
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
        if "VmHWM" in fields:
            kind = "jvm" if fields["Name"].strip() == "java" else "python"
            out[kind] += int(fields["VmHWM"].split()[0]) / 1024
    return out


def stat_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostWindow:
    """Steal% and load average over one timed interval."""

    def __init__(self):
        self._t0 = stat_ticks()

    def close(self) -> dict:
        steal0, total0 = self._t0
        steal1, total1 = stat_ticks()
        span = max(total1 - total0, 1)
        return {
            "steal_pct": round(100.0 * (steal1 - steal0) / span, 2),
            "loadavg_1m": os.getloadavg()[0],
        }


def running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def end_processes(pids: list[int], timeout: float = 30.0) -> None:
    """Make sure ``pids`` have ended: reap our own exited children, TERM any
    still running, and KILL those that outlive ``timeout``. Processes that
    were reparented away (the worker daemon, once the JVM exits) are
    covered too, since they are found by pid, not by parentage."""
    deadline = time.time() + timeout
    signalled = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        alive = [p for p in pids if running(p)]
        if not alive:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        if sig != signalled:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled = sig
        time.sleep(0.2)
