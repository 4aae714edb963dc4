"""Figures read from /proc for the benchmark's process tree (this
process, the JVM it launched, and the JVM's Python workers) and for the
host."""

from __future__ import annotations

import os
import statistics
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # JVM thread names, cut to 15 chars


def _ticks(f: list[str], children: bool) -> int:
    return int(f[11]) + int(f[12]) + (int(f[13]) + int(f[14]) if children else 0)


def tree_cpu_s() -> tuple[float, float]:
    """(work, jit): user + system CPU seconds of the process tree,
    split into the JVM's JIT compiler threads and everything else.

    ``work`` includes the children each live process has reaped (a
    Python worker that exits is reaped by the worker daemon, which
    stays alive). The kernel charges time a vCPU spends stolen by the
    hypervisor to steal, not to the process, so neither figure grows
    with steal the way wall time does. JIT compilation is split off
    because its amount depends on when the JVM's counters cross their
    thresholds, not on the work asked of the program; the run must
    keep the JVM's compiler threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``), since a thread that
    exits takes its figure with it."""
    total = jit = 0
    for pid in tree_pids():
        try:
            total += _ticks(_stat_fields(pid), children=True)
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tids) < 2:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(JIT_THREADS):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    jit += _ticks(fh.read().rsplit(")", 1)[1].split(), children=False)
            except OSError:
                continue
    return (total - jit) / TICK, jit / TICK


def steal_s() -> float:
    """Host-wide seconds stolen from this VM's vCPUs since boot."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / TICK


def cpu_probe_ms() -> float:
    """CPU milliseconds this thread spends on a fixed Python loop. It
    reads the host's per-vCPU speed, which steal does not show: on a
    quiet host it takes ~2 ms, and it takes up to twice that while
    steal reads ~0."""
    t0 = time.thread_time()
    acc: dict[int, int] = {}
    for i in range(20_000):
        acc[i % 97] = acc.get(i % 97, 0) + i
    return (time.thread_time() - t0) * 1000


class Sampler(threading.Thread):
    """Every ``interval`` seconds: the summed RSS of the process tree
    (its peak is kept) and one ``cpu_probe_ms`` (their median is
    kept)."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak_kb, self.probes = interval, 0, []
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> int:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self.probes.append(cpu_probe_ms())
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def probe_ms(self) -> float:
        return statistics.median(self.probes)
