"""Process-tree accounting from /proc: CPU seconds and resident memory
of the benchmark process plus everything it started (the JVM and the
Python workers the JVM forks).

Memory is the proportional set size (PSS): a page shared by several
processes counts once in the sum. Plain RSS would count the pages a
forked Python worker shares with its daemon once per worker, and a JVM
that forks to run a shell command twice."""

from __future__ import annotations

import os
import threading
from typing import Dict, List

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime/stime/cutime/cstime are
    # stat fields 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICKS


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as fh:
            return fh.read().strip() == b"java"
    except OSError:
        return False


def tree(root: int) -> Dict[int, tuple]:
    """{pid: (ppid, cpu_s)} for ``root`` and all its descendants."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    keep = {root} if root in table else set()
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in table.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {pid: table[pid] for pid in keep}


class TreeMeter:
    """CPU seconds of the tree between ``start`` and ``stop`` and, when
    ``interval`` is set, the peaks of its summed PSS and of the JVM's
    share of it, sampled every ``interval`` seconds on a background
    thread. Reading a process's PSS walks its page tables, which stalls
    a large JVM, so untraced runs measure CPU only."""

    def __init__(self, root: int, interval: float | None = None):
        self.root = root
        self.interval = interval
        self.peak_pss = 0
        self.peak_jvm_pss = 0
        self.peak_parts: List[int] = []
        self._cpu0: Dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = None

    def _sample(self) -> Dict[int, tuple]:
        snap = tree(self.root)
        if self.interval is None:
            return snap
        pss = [_pss(pid) for pid in snap]
        jvm = sum(b for pid, b in zip(snap, pss) if _is_jvm(pid))
        self.peak_jvm_pss = max(self.peak_jvm_pss, jvm)
        if sum(pss) > self.peak_pss:
            self.peak_pss = sum(pss)
            self.peak_parts = sorted((b // 1_000_000 for b in pss), reverse=True)
        return snap

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._cpu0 = {pid: cpu for pid, (_, cpu) in self._sample().items()}
        if self.interval is not None:
            self._thread = threading.Thread(target=self._loop, name="tree-meter", daemon=True)
            self._thread.start()

    def stop(self) -> float:
        """Stops sampling; returns CPU seconds used since ``start``."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        snap = self._sample()
        # a process absent at start contributes all of its CPU; one that
        # ended in between is counted in its parent's reaped-children time
        return sum(cpu - self._cpu0.get(pid, 0.0) for pid, (_, cpu) in snap.items())
