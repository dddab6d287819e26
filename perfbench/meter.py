"""CPU time and resident memory of this process's descendants, from /proc.

The Spark JVM is a child of the benchmark process and the Python workers
are children of the JVM, so "the job's processes" are exactly the
descendants of the benchmark process. CPU includes ``cutime``/``cstime``, so
a worker that exits and is reaped still counts through its parent.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of all descendants, reaped children included."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(str(pid))
        if f is not None:
            # after ')': state ppid ... utime(12) stime(13) cutime(14) cstime(15)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def tree_pss_bytes(root: int | None = None) -> int:
    """Resident memory of all descendants, shared pages split between the
    processes sharing them (PSS), so forked Python workers are not counted
    once per fork."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended
            pass
    return total


def process_age_s() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields("self")[19]) / _CLK


class PeakMemory:
    """Background sampler of the descendants' summed PSS; ``peak`` is the
    largest sum seen while it runs (only its thread writes it)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, tree_pss_bytes())

    def __enter__(self) -> "PeakMemory":
        self.peak = tree_pss_bytes()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
