"""/proc sampling of the benchmark's process trees: summed resident
memory and CPU time per process class, on a background thread of the
orchestrator.

Memory is the proportional set size (PSS): a page shared by several
processes counts once, split between them.  Spark forks its Python
workers from one daemon, so summing their RSS would count the shared
pages once per worker and swing with how many workers happen to be
alive at a sample.  The JVM shares next to nothing and is counted by its
resident set size: reading its PSS walks every page of a multi-gigabyte
heap (tens of ms, holding the JVM's memory-map lock), which would slow
the process being measured.
"""

from __future__ import annotations

import os
import threading
import time

HZ = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _read_stat(pid: int):
    """(ppid, comm, cpu ticks) or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; it is bracketed by the first '(' / last ')'
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1:rp]
    rest = raw[rp + 2:].split()
    ppid = int(rest[1])
    ticks = int(rest[11]) + int(rest[12])
    return ppid, comm, ticks


def _read_steal_ticks() -> int:
    """CPU time the hypervisor gave to others while this machine's CPUs
    wanted to run, summed over CPUs (the ``steal`` column of
    /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _read_mem_kb(pid: int, comm: str) -> int:
    """The process's memory in kB, RSS for a JVM and PSS for the rest;
    0 when it is gone."""
    try:
        if "java" in comm:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * PAGE_KB
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Sampler:
    """Classifies processes by ancestry from the roots it is given:
    ``engine`` → ``engine_driver`` (the root), ``engine_jvm`` (java) and
    ``python_workers`` (processes under the JVM); ``ingest`` and ``load``
    are whole trees.  Ticks are kept per pid so a process that exits
    keeps its last reading.  ``steal`` is the whole machine's stolen
    time."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.roots: dict[int, str] = {}
        self.ticks: dict[int, tuple[str, int]] = {}
        self.samples: list[tuple[float, dict]] = []
        self.peak_mem_kb = 0
        self.peak_mem_kb_by_role: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, pid: int, role: str) -> None:
        self.roots[pid] = role

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        t = time.time()
        mem: dict[str, int] = {}
        for pid, (ppid, comm, ticks) in procs.items():
            role = self._classify(pid, procs)
            if role is None:
                continue
            self.ticks[pid] = (role, ticks)
            mem[role] = mem.get(role, 0) + _read_mem_kb(pid, comm)
        for role, kb in mem.items():
            self.peak_mem_kb_by_role[role] = max(
                kb, self.peak_mem_kb_by_role.get(role, 0))
        self.peak_mem_kb = max(self.peak_mem_kb, sum(
            kb for role, kb in mem.items() if role != "load"))
        totals: dict[str, int] = {}
        for role, ticks in self.ticks.values():
            totals[role] = totals.get(role, 0) + ticks
        totals["steal"] = _read_steal_ticks()
        self.samples.append((t, totals))

    def _classify(self, pid: int, procs: dict):
        chain = []
        cur = pid
        while cur in procs and cur not in self.roots and len(chain) < 32:
            chain.append(cur)
            cur = procs[cur][0]
        role = self.roots.get(cur)
        if role != "engine":
            return role
        if pid == cur:
            return "engine_driver"
        if "java" in procs[pid][1]:
            return "engine_jvm"
        if any("java" in procs[p][1] for p in chain[1:]):
            return "python_workers"
        return "engine_driver"

    def cores(self, role: str, t0: float, t1: float) -> float:
        """Mean cores busy in role over [t0, t1], from the samples
        nearest those times."""
        def at(t):
            best = min(self.samples, key=lambda s: abs(s[0] - t))
            return best[0], best[1].get(role, 0)

        (a_t, a), (b_t, b) = at(t0), at(t1)
        return (b - a) / HZ / (b_t - a_t) if b_t > a_t else 0.0
