"""Measurements taken from outside the program: the JVM's /proc status
and management beans, a streaming query listener, and a walk of the
dedup store's directory."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class JvmProbe:
    """GC time, heap peak and peak RSS of the driver JVM, read through
    ``java.lang.management`` over py4j and ``/proc/<pid>/status``."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(self._mf.getRuntimeMXBean().getPid())

    def gc_seconds(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def heap_peak_mb(self) -> float:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ) / 2**20

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM in /proc/{self.pid}/status")


def host_steal_seconds() -> float:
    """vCPU seconds the hypervisor gave to other tenants since boot,
    summed over this host's vCPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class BatchListener(StreamingQueryListener):
    """Collects one record per micro-batch progress event."""

    def __init__(self):
        self.batches: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows == 0:
            return
        st = p.stateOperators[0] if p.stateOperators else None
        rec = {
            "query": p.name,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "wal_commit_ms": p.durationMs.get("walCommit", 0),
            "commit_offsets_ms": p.durationMs.get("commitOffsets", 0),
            "state_rows": st.numRowsTotal if st else 0,
            "state_mem_bytes": st.memoryUsedBytes if st else 0,
            "state_commit_ms": st.commitTimeMs if st else 0,
        }
        with self._cv:
            self.batches.append(rec)
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, query: str, n: int, timeout: float = 10.0) -> list[dict]:
        """The query's batch records once ``n`` have arrived (progress
        events reach the listener asynchronously, after the drain)."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                got = [b for b in self.batches if b["query"] == query]
                left = deadline - time.monotonic()
                if len(got) >= n or left <= 0:
                    return got
                self._cv.wait(left)


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``, a file or a directory."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
