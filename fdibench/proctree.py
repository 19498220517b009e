"""Process-tree CPU and memory accounting from ``/proc`` alone.

The tree is the benchmark's own Python driver and every descendant: the
JVM that ``pyspark`` launches and the Python workers the JVM forks. CPU
time of a live process is its ``utime + stime``; CPU time of children that
already exited and were reaped by a process in the tree is that parent's
``cutime + cstime``, so short-lived workers are not lost between samples.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own user + system
    reaped_cpu_s: float  # user + system of reaped children
    rss_bytes: int


def parse_stat(text: str) -> tuple[int, str, int, float, float]:
    """(pid, comm, ppid, own cpu s, reaped-children cpu s) from one
    ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and parentheses, so
    the fields after it are found from the last ``)``."""
    pid = int(text[: text.index(" (")])
    close = text.rindex(")")
    comm = text[text.index("(") + 1 : close]
    rest = text[close + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return pid, comm, ppid, (utime + stime) / CLK_TCK, (cutime + cstime) / CLK_TCK


def _read(pid: int, proc_root: str) -> Proc | None:
    try:
        with open(f"{proc_root}/{pid}/stat") as f:
            pid_, comm, ppid, cpu, reaped = parse_stat(f.read())
        with open(f"{proc_root}/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * PAGE
    except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
        return None  # exited while being read
    return Proc(pid_, ppid, comm, cpu, reaped, rss)


def descendants(root: int, parents: dict[int, int]) -> set[int]:
    """``root`` and every pid whose parent chain reaches it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in tree:
            tree.add(pid)
            todo.extend(children.get(pid, ()))
    return tree


def snapshot(root: int | None = None, proc_root: str = "/proc") -> list[Proc]:
    """Every live process in the tree under ``root`` (default: this one)."""
    procs = {}
    for name in os.listdir(proc_root):
        if name.isdigit():
            p = _read(int(name), proc_root)
            if p is not None:
                procs[p.pid] = p
    root = os.getpid() if root is None else root
    tree = descendants(root, {p.pid: p.ppid for p in procs.values()})
    return [procs[pid] for pid in sorted(tree) if pid in procs]


def role(p: Proc, root: int) -> str:
    if p.pid == root:
        return "driver"
    if p.comm == "java":
        return "jvm"
    return "pyworker" if p.comm.startswith("python") else "other"


def cpu_by_role(procs: list[Proc], root: int | None = None) -> dict[str, float]:
    """CPU seconds per role. A process's reaped children count under the
    process's own role: the Python worker daemon reaps the workers it forks,
    the JVM reaps the launcher that built its command line."""
    root = os.getpid() if root is None else root
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for p in procs:
        out[role(p, root)] += p.cpu_s + p.reaped_cpu_s
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """Per-role CPU between two ``cpu_by_role`` readings, with ``total``."""
    d = {k: max(0.0, after.get(k, 0.0) - before.get(k, 0.0)) for k in after}
    d["total"] = sum(d.values())
    return d


class RssSampler:
    """Samples the tree's summed resident memory on a background thread and
    keeps the peak (``/proc`` has no peak for a sum of processes)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        rss = sum(p.rss_bytes for p in snapshot())
        self.peak_bytes = max(self.peak_bytes, rss)
        return rss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
