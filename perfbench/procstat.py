"""Process-tree CPU, resident memory and host steal, read from ``/proc``.

The benchmark's driver Python, the Spark JVM it launches and the Python
workers the JVM forks form one process tree; every figure here covers
that whole tree, rooted at the benchmark's own pid.
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_jvm(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


def tree_cpu_s(root: int) -> dict[str, float]:
    """User + system CPU seconds of the tree, including reaped children,
    split into the driver (``root``), the JVM and the Python workers (the
    JVM's Python daemon and the workers it forks)."""
    ticks = {"driver": 0, "jvm": 0, "python_workers": 0}
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        kind = "driver" if pid == root else "jvm" if _is_jvm(pid) else "python_workers"
        # utime, stime, cutime, cstime (stat fields 14-17)
        ticks[kind] += sum(int(x) for x in fields[11:15])
    return {k: v / _HZ for k, v in ticks.items()}


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total * _PAGE / 2**20


def host_cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the host's aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return sum(vals[:8]), vals[7]


class RssSampler:
    """Samples the tree's resident memory on a daemon thread; keeps the
    samples taken since the last :meth:`reset`."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root = root
        self._interval = interval_s
        self._samples: list[float] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            rss = tree_rss_mb(self._root)
            with self._lock:
                self._samples.append(rss)

    def reset(self) -> None:
        with self._lock:
            self._samples = [tree_rss_mb(self._root)]

    def samples(self) -> list[float]:
        with self._lock:
            return self._samples + [tree_rss_mb(self._root)]
