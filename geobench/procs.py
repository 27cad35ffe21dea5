"""CPU and RSS of the benchmark's process tree, read from ``/proc``.

The tree is the driver Python process, the Spark JVM it launched and every
pyspark Python worker under the JVM.  Each live process contributes
``utime + stime + cutime + cstime``: a worker that exits is reaped by its
parent (the pyspark daemon), whose ``cutime``/``cstime`` then carries the
dead worker's time, so a delta over an interval counts exited workers too.

Processes are split by kind: ``driver`` (the root process and any helper
that is not under the JVM), ``jvm`` (``java``) and ``py_worker`` (anything
under the JVM).
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "py_worker")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm start at field 3 (state); utime..cstime are 14..17
    cpu = sum(int(x) for x in f[11:15]) / _TICK
    return comm, int(f[1]), cpu


def _rss(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError):
        return 0


class ProcTree:
    """Snapshots of the tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def members(self) -> dict[int, tuple[str, float]]:
        """pid -> (kind, cpu seconds) for every live process in the tree."""
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                s = _stat(int(d))
                if s:
                    procs[int(d)] = s
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out = {}
        stack = [(self.root, False)]
        while stack:
            pid, under_jvm = stack.pop()
            if pid not in procs:
                continue
            comm, _, cpu = procs[pid]
            kind = "py_worker" if under_jvm else ("jvm" if comm == "java" else "driver")
            out[pid] = (kind, cpu)
            stack.extend((c, under_jvm or kind == "jvm") for c in children.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds by kind (plus ``total``) consumed so far."""
        out = dict.fromkeys(KINDS, 0.0)
        for kind, cpu in self.members().values():
            out[kind] += cpu
        out["total"] = sum(out[k] for k in KINDS)
        return out

    def rss(self) -> int:
        return sum(_rss(pid) for pid in self.members())


class RssPeak:
    """Background sampler of the tree's summed RSS; ``peak`` in bytes.

    Use as a context manager around the interval to watch."""

    def __init__(self, tree: ProcTree, period_s: float = 0.2):
        self.tree = tree
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-peak", daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.rss())
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss())


def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine from /proc/stat.

    Steal is time the hypervisor ran someone else on this machine's
    CPUs; a run with a high share was slowed by its host, not by code."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f[:8])
