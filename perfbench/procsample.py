"""Process-tree CPU and memory from ``/proc`` (no psutil).

The tree is the benchmark process and every descendant: the Spark JVM, the
PySpark worker daemon and each Python worker it forks.

* CPU: ``utime + stime + cutime + cstime`` summed over the live tree. A
  descendant that exits is reaped by its parent, whose ``cutime``/``cstime``
  then carry its CPU, so the sum stays monotone across worker churn.
* Memory: each process's ``VmHWM`` (kernel-kept peak RSS), summed over the
  processes alive at a sample and maximised over samples. ``VmHWM`` catches
  spikes that fall between samples; summing per-process peaks makes the
  figure an upper bound of the tree's true simultaneous peak.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    cpu_ticks: int  # utime + stime + cutime + cstime


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. The command name (field 2) may
    hold spaces and parentheses, so split after its last ``)``."""
    pid = int(text[: text.index(" ")])
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ProcStat(pid, ppid, utime + stime + cutime + cstime)


def parse_hwm_kb(status_text: str) -> int:
    """``VmHWM`` in kB from ``/proc/<pid>/status``; 0 for kernel threads
    and zombies, which have no such line."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def tree_pids(stats: Iterable[ProcStat], root: int) -> List[int]:
    """``root`` and all its descendants among ``stats``."""
    children: Dict[int, List[int]] = {}
    for s in stats:
        children.setdefault(s.ppid, []).append(s.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcTree:
    """Reads the process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: Optional[int] = None, proc: str = "/proc") -> None:
        self.root = root if root is not None else os.getpid()
        self.proc = proc

    def _read(self, pid: int, name: str) -> Optional[str]:
        try:
            with open(f"{self.proc}/{pid}/{name}") as fh:
                return fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            return None  # exited between listing and reading

    def stats(self) -> Dict[int, ProcStat]:
        out = {}
        for name in os.listdir(self.proc):
            if name.isdigit():
                text = self._read(int(name), "stat")
                if text:
                    s = parse_stat(text)
                    out[s.pid] = s
        return out

    def pids(self) -> List[int]:
        stats = self.stats()
        return [p for p in tree_pids(stats.values(), self.root) if p in stats]

    def cpu_seconds(self) -> float:
        stats = self.stats()
        ticks = sum(
            stats[p].cpu_ticks for p in tree_pids(stats.values(), self.root) if p in stats
        )
        return ticks / CLK_TCK

    def hwm_kb(self) -> Dict[int, int]:
        """``VmHWM`` in kB of each live process of the tree. The JVM's
        ``jspawnhelper`` is skipped: until it execs, its counters mirror the
        JVM that forked it, which would count the JVM twice."""
        out = {}
        for pid in self.pids():
            text = self._read(pid, "status")
            if text and not text.startswith("Name:\tjspawnhelper"):
                out[pid] = parse_hwm_kb(text)
        return out

    def name(self, pid: int) -> str:
        return (self._read(pid, "comm") or "?").strip()


class PeakSampler:
    """Background thread that keeps the largest tree-wide ``VmHWM`` sum seen
    (and its split by process name). Use as a context manager; ``peak_mb``
    is final after exit."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.2) -> None:
        self.tree = tree
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: Dict[str, float] = {}  # process name -> MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        by_pid = self.tree.hwm_kb()
        mb = sum(by_pid.values()) / 1024.0
        if mb > self.peak_mb:
            self.peak_mb = mb
            parts: Dict[str, float] = {}
            for pid, kb in by_pid.items():
                name = self.tree.name(pid)
                parts[name] = parts.get(name, 0.0) + kb / 1024.0
            self.peak_parts = parts

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
