"""CPU time and resident memory of this process tree, read from /proc.

The tree is the benchmark driver, the Spark JVM it launched and the
PySpark daemon and Python workers the JVM forked."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes)."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields after comm start at index 3 (state) in proc(5) numbering
    ppid = int(rest[1])
    cpu = sum(int(x) for x in rest[11:15]) / _TICK  # utime stime cutime cstime
    rss = int(rest[21]) * _PAGE
    return comm, ppid, cpu, rss


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat; the
    steal share of a run says how much a virtual machine's host took."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def host_speed_probe(reps: int = 3) -> float:
    """Median seconds of a fixed CPU task, independent of the program:
    one numpy sort per core on threads (the GIL is released) plus a
    short pure-Python loop. Taken at quiet points of a run, it shows how
    fast this host ran then."""
    import numpy as np

    n = max(len(os.sched_getaffinity(0)), 1)
    arrays = [np.random.default_rng(i).integers(0, 1 << 30, 3_000_000) for i in range(n)]
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        threads = [threading.Thread(target=np.sort, args=(a,)) for a in arrays]
        for t in threads:
            t.start()
        sum(i * i for i in range(150_000))
        for t in threads:
            t.join()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def tree(root: int | None = None) -> dict[int, tuple]:
    """pid -> (kind, cpu_s, rss_bytes) for `root` and its descendants;
    kind is "jvm", "python_worker" or "driver"."""
    root = root or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            procs[int(name)] = _stat(int(name))
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
    children: dict[int, list[int]] = {}
    for pid, (_c, ppid, _cpu, _rss) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in procs:
            continue
        comm, _ppid, cpu, rss = procs[pid]
        if pid == root:
            kind = "driver"
        elif comm == "java":
            kind = "jvm"
        elif comm.startswith("python"):
            kind = "python_worker"
        else:
            kind = "other"
        out[pid] = (kind, cpu, rss)
        stack.extend(children.get(pid, ()))
    return out


def cpu_delta(before: dict, after: dict) -> float:
    """CPU seconds the tree spent between two snapshots. A process that
    exited in between is covered by its parent's reaped-children time
    once the parent waited for it."""
    total = 0.0
    for pid, (_k, cpu, _r) in after.items():
        prev = before.get(pid)
        total += cpu - (prev[1] if prev else 0.0)
    return max(total, 0.0)


class RssSampler:
    """Background sampler of the tree's summed RSS (peak) and of its
    per-kind split at that peak."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_split: dict = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        snap = tree()
        total = sum(r for _k, _c, r in snap.values())
        if total > self.peak_bytes:
            split = {"jvm": 0, "python_worker": 0, "py_workers": 0}
            for kind, _cpu, rss in snap.values():
                if kind == "jvm":
                    split["jvm"] += rss
                elif kind == "python_worker":
                    split["python_worker"] += rss
                    split["py_workers"] += 1
            self.peak_bytes, self.peak_split = total, split

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
