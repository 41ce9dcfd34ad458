"""Host-side measurements read from /proc: the process tree's resident
memory (sampled) and CPU time, and the host's steal time.  None of them
gate a run; they let a noisy host be told apart from a slow commit."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; fields after it are space separated
    return data[data.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE  # rss, in pages
    return total


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the live tree, including children each live
    process has reaped (so finished Python workers count)."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _HZ


def steal_s() -> float:
    """Host-wide steal time so far, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def mem_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                out[k] = int(v.split()[0]) // 1024
    return out


class RssSampler:
    """Samples the tree's RSS on a background thread; ``peak`` in bytes."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
