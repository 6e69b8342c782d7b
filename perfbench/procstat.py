"""Host and process-tree accounting read from /proc.

The tree is this process and every descendant: the driver python, the
JVM it launches and the JVM's python workers. CPU is each process's own
user+sys time. A worker can exit without its time reaching its
parent's cutime (a parent that ignores SIGCHLD never waits for it), so
``Meter`` remembers the last value it saw of every process in the tree
and counts processes that exit mid-interval up to that sample.

The sampler runs in the measured driver process, so it keeps its own
cost small and out of the figures: it rescans all of /proc for new
processes only every ``RESCAN``-th sample and reads just the known
tree in between, and its thread's CPU time is subtracted from the
driver's share.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RESCAN = 5  # full /proc scan every RESCAN-th sample


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    name = s[s.index("(") + 1 : s.rindex(")")]
    f = s[s.rindex(")") + 2 :].split()
    # fields after the name: 0 state, 1 ppid, 11 utime, 12 stime,
    # 21 rss (pages)
    cpu = (int(f[11]) + int(f[12])) / _TICK
    return int(f[1]), name, cpu, int(f[21]) * _PAGE


def tree() -> dict[int, tuple[str, float, int]]:
    """pid -> (name, cpu_s, rss_bytes) for this process's tree."""
    info, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid, name, cpu, rss = _stat(int(d))
        except (OSError, ValueError, IndexError):
            continue
        info[int(d)] = (name, cpu, rss)
        children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        p = todo.pop()
        if p in info:
            out[p] = info[p]
            todo.extend(children.get(p, ()))
    return out


def known(pids) -> dict[int, tuple[str, float, int]]:
    """pid -> (name, cpu_s, rss_bytes) for those of ``pids`` still alive."""
    out = {}
    for pid in pids:
        try:
            _ppid, name, cpu, rss = _stat(pid)
        except (OSError, ValueError, IndexError):
            continue
        out[pid] = (name, cpu, rss)
    return out


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER): pyspark's worker daemon outlives its JVM by
    a moment, and is then reparented here, so ``stop_tree`` still sees it
    and can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float = 10.0) -> list[int]:
    """Wait until every descendant of this process has ended, reaping
    each. Those still running after ``grace_s`` get SIGTERM, and after
    another ``grace_s`` SIGKILL. Returns the pids still there after a
    last ``grace_s`` (none, unless one cannot be killed)."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            _reap()
            left = [p for p in tree() if p != me]
            if not left:
                return []
            time.sleep(0.05)
        if sig is None:
            return left
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass


def kind(pid: int, name: str) -> str:
    if pid == os.getpid():
        return "driver"
    return "jvm" if name == "java" else "workers"


def host_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


class Meter:
    """Measures one interval: wall, tree CPU (by kind), peak tree RSS
    (sampled every ``period`` seconds) and host CPU steal."""

    def __init__(self, period: float = 0.1):
        self.period = period

    def __enter__(self):
        self._stop = threading.Event()
        self.peak_rss = 0
        # pid -> [kind, cpu at first sight (0 if born inside), last cpu]
        self._seen: dict[int, list] = {
            pid: [kind(pid, n), c, c] for pid, (n, c, _r) in tree().items()
        }
        self._alive = list(self._seen)
        self._sampler_cpu = 0.0
        self._h0 = host_ticks()
        self._t0 = time.perf_counter()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _sample(self, full: bool = True):
        t = tree() if full else known(self._alive)
        self._alive = list(t)
        for pid, (n, c, _r) in t.items():
            e = self._seen.get(pid)
            if e is None:
                self._seen[pid] = [kind(pid, n), 0.0, c]
            else:
                e[2] = c
        total = sum(r for _n, _c, r in t.values())
        if total > self.peak_rss:
            self.peak_rss = total
            self.peak_by_kind = {"driver": 0, "jvm": 0, "workers": 0}
            for pid, (n, _c, r) in t.items():
                self.peak_by_kind[kind(pid, n)] += r

    def _loop(self):
        n = 0
        while True:
            n += 1
            self._sample(full=n % RESCAN == 0)
            if self._stop.wait(self.period):
                self._sampler_cpu = time.thread_time()
                return

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join()
        self._sample()
        self.cpu = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for k, first, last in self._seen.values():
            self.cpu[k] += last - first
        self.cpu["driver"] = max(self.cpu["driver"] - self._sampler_cpu, 0.0)
        self.cpu_s = sum(self.cpu.values())
        h1 = host_ticks()
        total = max(h1[0] - self._h0[0], 1)
        self.steal_frac = (h1[1] - self._h0[1]) / total
        return False
