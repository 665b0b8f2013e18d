"""CPU and memory from ``/proc``.

Two CPU figures:

- ``machine_busy_s()``: busy CPU seconds of the whole machine from
  ``/proc/stat``. It counts every process, including ones that have
  already exited, so the rounds' ``cpu_s`` uses it. On a machine that
  runs nothing but the benchmark (idle load on a 4-core test VM: ~0.02
  cores) it is the CPU of the benchmark's process tree.
- ``Sampler.cpu_split()``: CPU of the tree split into driver / jvm /
  py_workers, from each process's own ``utime + stime`` as last seen by
  a 0.1 s sampler. The tree is this (driver) process, the JVM it
  launches and everything below the JVM: the ``pyspark.daemon`` Python
  workers and the short-lived Python data-source planners. The daemon's
  workers are reaped without adding to its ``cutime``, so a worker's CPU
  is kept as last sampled after it exits; what a process used after its
  last sample, or a process shorter than one interval, is missed.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat(pid: int):
    """(ppid, comm, own cpu seconds, start time in ticks), or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(14) stime(15) ... starttime(22)
    return int(f[1]), comm, (int(f[11]) + int(f[12])) / _TICK, int(f[19])


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


def _all_stats() -> dict[int, tuple]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def _subtree(stats: dict[int, tuple], root: int) -> dict[int, tuple]:
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> dict[int, tuple]:
    """{pid: stat} for ``root`` and every process below it."""
    return _subtree(_all_stats(), root)


def find_jvm(tree: dict[int, tuple]) -> int | None:
    return next((pid for pid, st in tree.items() if st[1] == "java"), None)


def machine_busy_s() -> float:
    """Busy CPU seconds of the whole machine since boot:
    user + nice + system + irq + softirq of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / _TICK


class Sampler:
    """Background sampler of the tree: the largest total resident set
    seen at one sample, the Python worker PIDs ever seen below the JVM
    and the CPU of every process ever seen."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.worker_pids: set[int] = set()
        # (pid, start ticks) -> [kind, own cpu seconds as last seen]
        self._cpu: dict[tuple[int, int], list] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        jvm = find_jvm(tree)
        below = _subtree(tree, jvm) if jvm is not None else {}
        with self._lock:
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(pid) for pid in tree))
            self.worker_pids.update(
                pid for pid, st in below.items()
                if pid != jvm and st[1].startswith("python")
            )
            for pid, (_, _, cpu, start) in tree.items():
                kind = "jvm" if pid == jvm else "py_workers" if pid in below else "driver"
                self._cpu[(pid, start)] = [kind, cpu]

    def cpu_split(self) -> dict[str, float]:
        """Cumulative CPU seconds of the tree split into driver / jvm /
        py_workers, after a fresh sample."""
        self.sample()
        out = {"driver": 0.0, "jvm": 0.0, "py_workers": 0.0}
        with self._lock:
            for kind, cpu in self._cpu.values():
                out[kind] += cpu
        return out

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "Sampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_kb / 1024.0
