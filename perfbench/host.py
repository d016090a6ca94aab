"""Host probes: contention guard, CPU steal, load average and the RSS
high-water mark of the processes a run starts (JVM + Python workers).

Everything here reads /proc only; nothing starts a process.
"""

from __future__ import annotations

import os
import threading
import time

# besides any JVM, argv fragments of processes that would contend with
# a measured run
_CONTENDERS = ("pytest", "spark-submit", "pyspark")


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return [a.decode("utf-8", "replace")
                    for a in f.read().split(b"\0") if a]
    except OSError:
        return []


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: split after its ')'
                fields = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int, ppids: dict[int, int] | None = None) -> set[int]:
    ppids = _ppid_map() if ppids is None else ppids
    kids: dict[int, list[int]] = {}
    for pid, pp in ppids.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def contenders() -> list[str]:
    """Other JVM / Spark / pytest processes on the host (not ours)."""
    ppids = _ppid_map()
    mine = descendants(os.getpid(), ppids) | {os.getpid()}
    # our own ancestors (e.g. a pytest that launched this run) don't count
    p = os.getpid()
    while p in ppids and p > 1:
        p = ppids[p]
        mine.add(p)
    found = []
    for pid in ppids:
        if pid in mine:
            continue
        argv = _cmdline(pid)
        if not argv:
            continue
        joined = " ".join(argv)
        if os.path.basename(argv[0]) == "java" \
                or any(c in joined for c in _CONTENDERS):
            found.append(f"pid {pid}: {joined[:120]}")
    return found


def wait_quiet(timeout_s: float) -> list[str]:
    """Wait up to timeout_s for contenders to exit (a previous run's JVM
    may still be shutting down); return the ones left."""
    deadline = time.monotonic() + timeout_s
    while True:
        found = contenders()
        if not found or time.monotonic() >= deadline:
            return found
        time.sleep(1.0)


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return sum(vals[:8]), steal


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _is_java(pid: int) -> bool:
    argv = _cmdline(pid)
    return bool(argv) and os.path.basename(argv[0]) == "java"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process's descendants (the JVM and
    the Python daemon/workers it forks) every `period_s` while running;
    `peak_mb` is the high-water mark between start() and stop()."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        ppids = _ppid_map()
        total = 0
        for p in descendants(os.getpid(), ppids):
            # a JVM child of the JVM is a fork about to exec a helper
            # (Hadoop's local file system shells out); its pages are the
            # parent's, so counting it would double the JVM
            if _is_java(p) and _is_java(ppids.get(p, 0)):
                continue
            total += _rss_bytes(p)
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> None:
        self.peak = 0
        self._stop.clear()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return self.peak / 2**20
