"""Process-tree accounting from /proc (Linux), and host-load probes.

The measured tree is the benchmark worker process and every descendant:
the Python driver program, the Spark driver JVM it launches, and the
JVM's Python workers. CPU counts reaped children too (``cutime`` /
``cstime``), so short-lived Python workers are not lost.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int, zombies: bool = False):
    """(ppid, cpu_ticks incl. reaped children) or None if the pid is gone
    (or, unless ``zombies``, exited but not yet reaped)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; the rest follows the last ')'
    rest = data[data.rindex(b")") + 2:].split()
    if rest[0] == b"Z" and not zombies:
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name), zombies=True)
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid, zombies=True)
        if st is not None:
            total += st[1]
    return total / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().strip()
    except OSError:
        return b""


class RssSampler:
    """Peak summed RSS of the tree, and peak RSS of the largest single
    Python worker, sampled every ``interval`` seconds on a background thread
    between ``start()`` and ``stop()``.

    Only the root, the JVM it launched and Python processes count. Hadoop's
    local file system forks short-lived shell commands from the JVM; before
    their exec those children report the JVM's whole RSS, which would count
    it twice."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = self.peak_worker = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        total = _rss_bytes(self.root)
        for p in tree(self.root):
            if p == self.root:
                continue
            comm = _comm(p)              # read before the RSS: see above
            if comm == b"java" and (_stat(p) or (None,))[0] == self.root:
                total += _rss_bytes(p)
            elif comm.startswith(b"python"):
                rss = _rss_bytes(p)
                total += rss
                self.peak_worker = max(self.peak_worker, rss)
        self.peak = max(self.peak, total)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def host_probe() -> dict:
    """Load average plus a fixed Spark-free single-thread workload's wall
    in ms: a run taken under neighbour load shows as a high probe."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    return {"load1": os.getloadavg()[0],
            "probe_ms": (time.perf_counter() - t0) * 1000.0}


def kill_all(pids, grace_s: float = 20.0) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit on their own, then
    SIGKILL whatever is left and wait until it is gone."""
    import signal

    deadline = time.time() + grace_s
    while time.time() < deadline and any(_stat(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _stat(p) is not None:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_stat(p) for p in pids):
        time.sleep(0.1)
