"""Cheap host and process readings: CPU time, peak RSS, a host stamp and
the host's current speed.

Everything is read from /proc for the benchmark's own processes, plus
the machine-wide `cpu` line of /proc/stat for steal time.
"""

from __future__ import annotations

import os
import random
import statistics
import time

_CLK = os.sysconf("SC_CLK_TCK")

# CPU seconds one reference_loop_s() sample took on the 4-CPU host the
# README's figures come from, in a phase when nothing else slowed it.
# CPU seconds scaled by REF_LOOP_S / (the run's own median sample) are
# CPU seconds at that host speed.
REF_LOOP_S = 0.083
_SORT_INPUT: list[float] = []


def host_stamp() -> dict:
    """nproc, 1-minute load average and cumulative steal seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) / _CLK if len(cpu) > 8 else 0.0
    return {"nproc": os.cpu_count(), "load1": os.getloadavg()[0], "steal_s": steal}


def reference_loop_s() -> float:
    """CPU seconds this thread takes for a fixed piece of pure-Python work
    (an integer loop and a sort of 200,000 floats). On a shared host the
    CPU time of the same work moves by up to 2x as other tenants come and
    go; this probe moves with it."""
    if not _SORT_INPUT:
        rng = random.Random(0)
        _SORT_INPUT.extend(rng.random() for _ in range(200_000))
    t0 = time.thread_time()
    x = 0
    for i in range(700_000):
        x += i * i % 7
    sorted(_SORT_INPUT)
    return time.thread_time() - t0


def host_speed(samples: int) -> list[float]:
    """`samples` reference-loop timings, taken back to back."""
    return [reference_loop_s() for _ in range(samples)]


def at_reference_speed(cpu_s: float, loop_samples: list[float]) -> float:
    """CPU seconds measured while the reference loop took the median of
    `loop_samples`, scaled to the host speed REF_LOOP_S stands for."""
    return cpu_s * REF_LOOP_S / statistics.median(loop_samples)


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class Processes:
    """The driver's Python process and the Spark JVM it talks to."""

    def __init__(self, spark):
        self.jvm_pid = _jvm_pid(spark)

    def cpu_s(self) -> float:
        """User + system CPU seconds of the JVM and this process."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / _CLK
        t = os.times()
        return jvm + t.user + t.system

    def jit_cpu_s(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads. The JVM must run
        with -XX:-UseDynamicNumberOfCompilerThreads, so that no compiler
        thread ends and takes its CPU time out of this sum."""
        total = 0.0
        base = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"{base}/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the thread ended meanwhile
                continue
            total += (int(fields[11]) + int(fields[12])) / _CLK
        return total

    def peak_rss_mb(self) -> float:
        """The JVM's peak resident set (VmHWM) so far."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")
