"""Host probes and memory sampling.

The probes are recorded next to every run and reported, never gated
on: a degraded window of the shared host then explains an outlier
instead of hiding in it.

- ``canary_s``: wall time for one sha256 burn per core, in a pool sized
  to the core count (a larger pool would measure oversubscription).
- ``fresh_page_gbps``: rate at which this process can fault in and fill
  fresh pages, the resource shuffle and serialization lean on.
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import threading
import time


def _burn(_: int) -> None:
    h = hashlib.sha256()
    blk = b"\x5a" * (1 << 20)
    for _ in range(100):
        h.update(blk)


def canary_s(procs: int) -> float:
    # fork: the workers need nothing but hashlib, and a spawned worker
    # would pay an interpreter start-up per process
    ctx = mp.get_context("fork")
    with ctx.Pool(procs) as pool:
        pool.map(_burn, range(procs))  # start-up, not timed
        t0 = time.perf_counter()
        pool.map(_burn, range(procs))
        return time.perf_counter() - t0


PROBE_MB = 256  # size of the fresh-page probe's buffer
RSS_INTERVAL_S = 0.1  # PeakRss sampling interval


def fresh_page_gbps() -> float:
    t0 = time.perf_counter()
    buf = b"\x5a" * (PROBE_MB << 20)
    dt = time.perf_counter() - t0
    del buf
    return PROBE_MB / 1024 / dt


def host_probes(procs: int) -> dict:
    return {"canary_s": canary_s(procs), "fresh_page_gbps": fresh_page_gbps()}


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class PeakRss:
    """Samples a process's resident set every ``RSS_INTERVAL_S`` while
    active; ``peak_mb`` is the highest sample."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, rss_mb(self.pid))


def _cpu_s(stat_path: str) -> float:
    """User + system CPU seconds from a /proc .../stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


# JIT compiler threads (comm is cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class Clock:
    """(wall seconds, CPU seconds of the JVM plus this process).

    The JVM's JIT compiler threads are left out of the CPU count: they
    run for minutes after start-up whatever the program does, and on
    this workload they burn more CPU than Spark's task threads, so
    counting them would measure how far compilation has got. The
    session fixes their number (-XX:-UseDynamicNumberOfCompilerThreads),
    so they are found once."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.jit = []
        for tid in os.listdir(f"/proc/{jvm}/task"):
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                if f.read().strip().startswith(_JIT_THREADS):
                    self.jit.append(tid)

    def __call__(self) -> tuple[float, float]:
        jit = sum(_cpu_s(f"/proc/{self.jvm}/task/{t}/stat") for t in self.jit)
        return (
            time.perf_counter(),
            _cpu_s(f"/proc/{self.jvm}/stat") - jit + time.process_time(),
        )


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the
    share of time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def live_heap_mb(spark) -> float:
    """Heap the JVM still uses after a full collection: what the
    program and Spark hold on to, without garbage."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def nproc() -> int:
    return len(os.sched_getaffinity(0))
