"""Process sampling from /proc: peak memory and CPU time of the program's
processes (the Spark driver JVM and its Python workers).

Python workers count by proportional set size (PSS): forked workers share
most pages with their daemon, and plain RSS would count those once per
worker, so the figure would follow how many workers happen to be alive.
The JVM counts by RSS (it shares next to nothing), read from ``statm``:
``smaps_rollup`` walks the JVM's page tables under its memory-map lock
for ~15 ms a read, which would stall the program being measured."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_descendants(pid: int) -> list[int]:
    """Python processes under ``pid`` (the worker daemon and its workers).
    Other children are skipped: while the JVM launches a process, the
    child shares the JVM's memory map, and counting it would add the
    whole JVM a second time."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    out.append(p)
        except OSError:
            continue
        todo.extend(kids.get(p, ()))
    return out


def _mem_cpu(pid: int, proportional: bool) -> tuple[int, float]:
    """(resident bytes, user+system CPU seconds) of one process, PSS when
    ``proportional``; (0, 0.0) once it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        if proportional:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                mem = next(int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))
        else:
            with open(f"/proc/{pid}/statm") as f:
                mem = int(f.read().split()[1]) * _PAGE
    except (OSError, StopIteration):
        return 0, 0.0
    # fields[0] is the state (field 3); utime/stime are fields 14/15
    return mem, (int(fields[11]) + int(fields[12])) / _TICK


class ProcMonitor:
    """Samples the JVM (and every process under it: the Python worker
    daemon and its workers) every ``interval`` seconds."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_total = 0
        self.peak_driver = 0
        self.peak_workers = 0
        self.samples: list[int] = []
        self.cpu: dict[int, float] = {}
        self._cpu0: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pids = [self.jvm_pid] + python_descendants(self.jvm_pid)
        total = workers = 0
        for p in pids:
            rss, cpu = _mem_cpu(p, proportional=p != self.jvm_pid)
            total += rss
            if p != self.jvm_pid:
                workers += rss
            self.cpu[p] = max(self.cpu.get(p, 0.0), cpu)
            self._cpu0.setdefault(p, cpu if p == self.jvm_pid else 0.0)
        self.samples.append(total)
        self.peak_total = max(self.peak_total, total)
        self.peak_driver = max(self.peak_driver, total - workers)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "ProcMonitor":
        self.sample()
        self._t0 = time.perf_counter()
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling (a second call does nothing)."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.sample()
        self._wall = time.perf_counter() - self._t0

    def cpu_busy_frac(self) -> float:
        used = sum(self.cpu[p] - self._cpu0.get(p, 0.0) for p in self.cpu)
        return used / (self._wall * (os.cpu_count() or 1))
