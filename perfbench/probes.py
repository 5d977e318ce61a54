"""Readings taken between queries, never inside a timed region: host
noise, JVM heap and GC, driver resident memory, and the census of state
the program still holds."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_sample() -> dict:
    """Cumulative CPU steal (s) from ``/proc/stat`` and the 1-minute
    load average. Steal is time this guest's CPUs were ready to run but
    the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    steal = int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0
    return {"steal_s": steal, "loadavg": os.getloadavg()[0]}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Jvm:
    """Driver JVM probes over the py4j gateway."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def heap_used_mb(self) -> float:
        return (self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
                / 2**20)

    def rss_peak_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM plus this
        Python driver."""
        return (_vm_hwm_kb(self.pid) + _vm_hwm_kb("self")) / 1024.0


def census(spark, memo_entries: int, index_root: str) -> dict:
    """State held between queries: cached RDD blocks and their bytes,
    catalog tables and views (memory sinks register one each), the
    program's process-global memo entries, and persisted index dirs."""
    infos = list(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return {
        "rdd_blocks_held": sum(i.numCachedPartitions() for i in infos),
        "cached_bytes_held": sum(i.memSize() + i.diskSize() for i in infos),
        "temp_tables_held": len(spark.catalog.listTables()),
        "memo_entries": memo_entries,
        "index_dirs": (len(os.listdir(index_root))
                       if os.path.isdir(index_root) else 0),
    }
