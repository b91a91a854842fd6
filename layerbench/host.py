"""Process-tree accounting for one benchmark process: CPU seconds and
host contention per timed pass (through the repo's shared tick and steal
helpers), peak resident memory, and the shutdown that leaves no JVM or
Python worker behind."""

from __future__ import annotations

import glob
import os
import signal
import statistics
import subprocess
import threading
import time

from bench import _proc_tree_ticks
from bench_scaling import _stat, _steal_fraction

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def tree_pids(root: int) -> set[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited mid-scan
        children.setdefault(ppid, []).append(int(path.split("/")[2]))
    out, stack = set(), [root]
    while stack:
        p = stack.pop()
        out.add(p)
        stack.extend(children.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_BYTES
    except (OSError, IndexError, ValueError):
        return 0


class PassMeter:
    """Wall, CPU and contention of one timed pass; a sampler thread
    records the peak summed RSS of the process tree (driver, JVM, Python
    workers) every 50 ms, re-listing the tree every 0.5 s."""

    def __init__(self):
        self.root = os.getpid()
        self._stop = threading.Event()
        self.peak_rss = 0

    def _sample(self) -> None:
        pids, listed = tree_pids(self.root), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - listed > 0.5:
                pids, listed = tree_pids(self.root), time.monotonic()
            self.peak_rss = max(self.peak_rss, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(0.05)

    def __enter__(self) -> "PassMeter":
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        self._s0, self._k0 = _stat(), _proc_tree_ticks(self.root)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        s1, k1 = _stat(), _proc_tree_ticks(self.root)
        self._stop.set()
        self._thread.join(timeout=5)
        own = k1 - self._k0
        total = max(1, sum(s1) - sum(self._s0))
        # the same foreign-busy rule as bench.timed: busy excludes idle,
        # iowait and steal; what is not ours belongs to a neighbour
        busy = (total - ((s1[3] + s1[4]) - (self._s0[3] + self._s0[4]))
                - (s1[7] - self._s0[7]))
        self.cpu_s = own / CLK_TCK
        self.steal = _steal_fraction(self._s0, s1)
        self.foreign_busy = max(0, busy - own) / total
        self.peak_rss_mb = self.peak_rss / 2**20


def calibrate() -> float:
    """Median seconds of five rounds of a fixed single-threaded
    pure-Python loop: the host's speed at the time of the run, apart from
    the program under test, so that drift of the host shows apart from
    drift of the program."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and every process under it,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    watch = tree_pids(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Python worker daemons exit once the JVM is gone (they are then
    # re-parented, so they are tracked by pid, not by tree); give them
    # 20 s, then kill what is left and wait for that too.
    for grace in (20, 10):
        deadline = time.monotonic() + grace
        while True:
            for p in watch:
                try:
                    os.waitpid(p, os.WNOHANG)  # reap our own children
                except ChildProcessError:
                    pass
            rest = [p for p in watch if _alive(p)]
            if not rest:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for p in rest:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    raise RuntimeError(f"processes still running after shutdown: {rest}")
