"""Process-tree helpers read from /proc: RSS sampling and reaping.

The benchmark's process tree is the driver Python, the JVM it launches and
the PySpark daemon with its Python workers. The daemon moves itself into its
own process group, so the tree is found by parent links, not by group.
"""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int] | None:
    """(comm, ppid) of a live pid, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    return comm, int(fields[1])


def descendants(root: int) -> dict[int, str]:
    """{pid: comm} of every live descendant of ``root`` (root excluded)."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[1], []).append((int(name), st[0]))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            if pid not in out:
                out[pid] = comm
                todo.append(pid)
    return out


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def alive(pid: int) -> bool:
    st = _stat(pid)
    if st is None:
        return False
    try:
        with open(f"/proc/{pid}/status") as fh:
            return not any(line.startswith("State:\tZ") for line in fh)
    except OSError:
        return False


def reap(pids: list[int], timeout: float = 20.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, the ones that do
    not. Returns the pids still alive at the end (normally none)."""
    deadline = time.monotonic() + timeout
    sent_term = sent_kill = False
    while True:
        left = [p for p in pids if alive(p)]
        if not left:
            return []
        now = time.monotonic()
        if not sent_term and now > deadline - timeout / 2:
            for p in left:
                _signal(p, signal.SIGTERM)
            sent_term = True
        if not sent_kill and now > deadline - 2.0:
            for p in left:
                _signal(p, signal.SIGKILL)
            sent_kill = True
        if now > deadline:
            return left
        time.sleep(0.05)


def _signal(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except OSError:
        pass


class RssSampler:
    """Background sampler of the summed RSS of this process and its
    descendants. Only samples taken while armed count toward the peaks.
    ``python_peak`` covers the Python worker processes alone."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.python_peak = 0
        self.samples = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()

    def _run(self) -> None:
        me = os.getpid()
        kids: dict[int, str] = {}
        last_scan = 0.0
        while not self._stop.wait(self.interval):
            if not self._armed.is_set():
                continue
            # the full /proc scan is the costly part: refresh the tree once
            # a second, read the known processes' RSS every interval
            if time.monotonic() - last_scan > 1.0:
                kids = descendants(me)
                last_scan = time.monotonic()
            py = sum(rss_bytes(p) for p, comm in kids.items() if comm.startswith("python"))
            total = rss_bytes(me) + sum(rss_bytes(p) for p in kids)
            self.peak = max(self.peak, total)
            self.python_peak = max(self.python_peak, py)
            self.samples += 1
