"""Machine state around a run: the memory-bandwidth probe, a bounded
wait for a healthy window, peak RSS of the process tree, and shutting
the Spark JVM down so no child process outlives the benchmark."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

# A healthy window on a 4-core, 15 GB VM fills a fresh buffer at
# 2.5-4.5 GB/s.  Degraded windows (first-touch page faults ~100x
# slower) read under 100 MB/s, so anything below this floor is waited
# out, up to HEALTHY_WAIT_S, before the run starts timing.
HEALTHY_FAULT_MBPS = 500.0
HEALTHY_WAIT_S = 10.0


def box_probe(mb: int = 64) -> dict:
    """``fault_mbps``: filling a FRESH buffer (page faults in the path);
    ``warm_mbps``: refilling the same pages (memory bandwidth only)."""
    n = mb * (1 << 20) // 8
    t0 = time.perf_counter()
    buf = np.empty(n, np.int64)
    buf.fill(1)
    fault = mb / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    buf.fill(2)
    warm = mb / (time.perf_counter() - t0)
    del buf
    return {"fault_mbps": fault, "warm_mbps": warm}


def wait_for_healthy_window(max_wait_s: float = HEALTHY_WAIT_S,
                            floor_mbps: float = HEALTHY_FAULT_MBPS):
    """Probe until ``fault_mbps`` clears the floor or the wait budget is
    spent.  Returns ``(last probe, seconds waited)``; never raises —
    the probe qualifies the run's numbers, it does not gate them."""
    t0 = time.perf_counter()
    probe = box_probe()
    while (probe["fault_mbps"] < floor_mbps
           and time.perf_counter() - t0 < max_wait_s):
        time.sleep(1.0)
        probe = box_probe()
    return probe, time.perf_counter() - t0


def _parent_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # process ended while listing
            continue
        # comm may hold spaces and parens: fields resume after the last ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional set size (resident pages, a page shared by k
    processes counted 1/k) for forked Python workers, which share most
    pages with their daemon; plain RSS for the JVM, which shares almost
    nothing and whose smaps walk costs ~20 ms per read."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            is_jvm = b"java" in f.read().split(b"\0", 1)[0]
        if is_jvm:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended between listing and reading
        pass
    return 0


class RssSampler:
    """One thread summing the resident memory of this process and all
    its descendants (driver, Spark JVM, Python workers) every
    ``interval`` seconds; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_resident_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / float(1 << 20)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:][:1] != b"Z"


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the py4j gateway so the JVM exits (it
    exits on EOF of its stdin), and wait until every process started
    under this one — JVM and Python worker daemons, which the JVM's
    exit re-parents — has ended, killing stragglers after
    ``timeout_s``."""
    import signal

    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 - any wait failure ends in a kill
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.5)
            return
        time.sleep(0.2)
