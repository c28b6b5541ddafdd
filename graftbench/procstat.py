"""Process-tree CPU and memory, and host gauges, read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st:
            kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(pid: int) -> float:
    st = _stat(pid)
    return int(st[21]) * _PAGE / 2**20 if st else 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def steal_s() -> float:
    """Host-wide steal time so far (``/proc/stat`` cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class RssSampler:
    """Samples RSS of the driver Python, its Python workers and the JVM on
    a background thread; keeps the peaks."""

    def __init__(self, root: int, period: float = 0.2):
        self.root = root
        self.period = period
        self.py_peak = 0.0
        self.worker_peak = 0.0
        self.jvm_peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        py = jvm = workers = 0.0
        for pid in descendants(self.root):
            r = rss_mb(pid)
            comm = _comm(pid)
            if pid == self.root:
                py += r
            elif comm == "java":
                jvm += r
            elif comm.startswith("python"):
                workers += r
        self.py_peak = max(self.py_peak, py + workers)
        self.worker_peak = max(self.worker_peak, workers)
        self.jvm_peak = max(self.jvm_peak, jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
