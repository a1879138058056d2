"""Host state and process-tree accounting read from ``/proc``.

``ProcSampler`` polls the benchmark's process tree (the driver, the JVM it
launches, Python workers under the JVM, broker and generator children) and
keeps, per process, the last CPU time it saw plus the peak summed resident
memory. Processes are classified by their place in the tree so CPU
can be charged to a layer: ``jvm``, ``pyworker`` (anything under the JVM),
``generator``, ``child`` (forked helpers of the driver such as brokers) and
``driver``.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, bytes, float]]:
    """pid -> (ppid, state, cpu seconds) for every process on the host."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(b")") + 2 :].split()
        table[int(name)] = (int(f[1]), f[0], (int(f[11]) + int(f[12])) / CLK_TCK)
    return table


def _tree(table: dict, root: int) -> set[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _state, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * PAGE
    except OSError:
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class ProcSampler:
    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.last: dict[int, float] = {}
        self.kind: dict[int, str] = {}
        self.peak_rss = 0
        self.peak_rss_by_kind: dict[str, int] = {}
        self.samples = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _classify(self, pid: int, parent: dict[int, int]) -> str:
        if pid == self.root:
            return "driver"
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ")[0]:
            return "jvm"
        p = parent.get(pid)
        while p is not None and p != self.root:
            if self.kind.get(p) == "jvm":
                return "pyworker"
            p = parent.get(p)
        return "generator" if "ss_generator" in cmd else "child"

    def sample(self) -> None:
        table = _proc_table()
        parent = {pid: v[0] for pid, v in table.items()}
        rss: dict[str, int] = {}
        with self._lock:
            for pid in sorted(_tree(table, self.root)):
                # a "child" may still be the launcher script that later
                # execs the JVM, so it is classified again on every sample
                if self.kind.get(pid, "child") == "child":
                    self.kind[pid] = self._classify(pid, parent)
                self.last[pid] = table[pid][2]
                kind = self.kind[pid]
                rss[kind] = rss.get(kind, 0) + _rss_bytes(pid)
            total = sum(rss.values())
            if total > self.peak_rss:
                self.peak_rss, self.peak_rss_by_kind = total, rss
            self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "ProcSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.sample()

    def cpu(self) -> dict[int, tuple[str, float]]:
        """Snapshot: pid -> (kind, cpu seconds seen so far)."""
        self.sample()
        with self._lock:
            return {pid: (self.kind[pid], self.last[pid]) for pid in self.last}


def cpu_delta(a: dict, b: dict) -> dict[int, tuple[str, float]]:
    """Per-process CPU spent between two ``ProcSampler.cpu`` snapshots.
    A process first seen after ``a`` is charged from zero."""
    return {pid: (kind, t - a.get(pid, (kind, 0.0))[1]) for pid, (kind, t) in b.items()}


def live_descendants(root: int) -> set[int]:
    """Processes below ``root`` that have not exited (a zombie has exited;
    only its parent's reap is missing)."""
    table = {pid: v for pid, v in _proc_table().items() if v[1] != b"Z"}
    return _tree(table, root) - {root}


def cpu_by_kind(delta: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for kind, t in delta.values():
        out[kind] = out.get(kind, 0.0) + t
    return out


def stat_snapshot() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(a: list[int], b: list[int]) -> float:
    """Hypervisor steal as a share of non-idle CPU between two snapshots."""
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3]
    return d[7] / busy if busy > 0 else 0.0


def cpu_probe_ms() -> float:
    """Best of five timings of a fixed single-threaded loop: constant on a
    quiet host, inflated when the host takes CPU away."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i
        best = min(best, (time.perf_counter() - t0) * 1000.0)
    return best
