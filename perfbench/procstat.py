"""CPU time and memory of this process and all its descendants.

The Spark driver JVM is a child of the benchmark's Python process and
the Python workers are children of the JVM, so the process tree rooted
here is the whole program.  CPU counts each live process's user and
system time plus the time of children it has already reaped.  Memory is
what the program holds rather than the JVM's resident set, which
follows the collector's choice of heap size more than the program:
the heap still in use after a full collection, the JVM's non-heap
memory, and the peak resident set of the Python processes.
"""

from __future__ import annotations

import gc
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # The command name is parenthesised and may hold spaces.
    return text[text.rindex(")") + 2 :].split()


def tree() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids if pids is not None else tree():
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of proc(5).
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def python_peak_rss_mb(pids: list[int]) -> float:
    """Sum over the processes other than the JVM of each one's peak
    resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        if _comm(pid) == "java":
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total_kb / 1024.0


def jvm_footprint_mb(spark) -> tuple[float, float]:
    """Heap the driver JVM still holds after a full collection, and the
    non-heap memory it has committed (metaspace, code cache).  Garbage
    the JVM can only drop after a first collection (Java objects whose
    Python proxies are garbage, queued listener events, data the context
    cleaner frees on its own thread) survives the first collections: after
    an audit the readings fell by about 50 MB per collection for the
    first two to three, sometimes with two readings in a row within 2 MB
    of each other on the way.  So it collects five times and keeps the
    lowest reading."""
    jvm, sc = spark.sparkContext._jvm, spark.sparkContext._jsc.sc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mb = 1024.0 * 1024.0
    readings = []
    for _ in range(5):
        gc.collect()  # releases the Java objects of dead py4j proxies
        sc.listenerBus().waitUntilEmpty()
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / mb)
        time.sleep(0.3)
    return min(readings), bean.getNonHeapMemoryUsage().getCommitted() / mb
