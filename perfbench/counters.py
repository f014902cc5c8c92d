"""Counters attached to spans: Spark's status store and store directories.

Spark side (over py4j, read from the driver's ``AppStatusStore``): jobs
started, tasks finished, executor run time and shuffle bytes written come
from the single local executor's summary, which is a handful of calls;
spill needs the per-stage list and is read once per run.  On Spark 4.1
``AppStatusStore.stageList`` takes five arguments ``(statuses, details,
withSummaries, quantiles[], taskStatus)``.

Filesystem side: walks of a silver-store or corpus directory, counting
files written against files hard-linked from an earlier version, and bytes.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._jvm

    def snapshot(self) -> dict:
        ex = self.store.executorSummary("driver")
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return {
            "jobs": (max(ids) + 1) if ids else 0,
            "tasks": ex.totalTasks(),
            "task_ms": ex.totalDuration(),
            "shuffle_write_bytes": ex.totalShuffleWrite(),
        }

    def spill_bytes(self) -> int:
        """Memory plus disk spill summed over every retained stage."""
        empty = self.jvm.java.util.ArrayList()
        stages = self.store.stageList(None, False, False, self.sc._gateway.new_array(self.jvm.double, 0), empty)
        it = stages.iterator()
        total = 0
        while it.hasNext():
            st = it.next()
            total += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return total


def walk(root: str) -> dict:
    """Files and bytes under ``root``, split by link count: a file with more
    than one link is shared with an earlier table version."""
    out = {"files": 0, "linked_files": 0, "bytes": 0, "new_bytes": 0}
    for d, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith(".") or name.startswith("_"):
                continue
            st = os.stat(os.path.join(d, name))
            out["files"] += 1
            out["bytes"] += st.st_size
            if st.st_nlink > 1:
                out["linked_files"] += 1
            else:
                out["new_bytes"] += st.st_size
    return out


def current_version(table_dir: str) -> str | None:
    try:
        with open(os.path.join(table_dir, "_CURRENT")) as f:
            return os.path.join(table_dir, f.read().strip())
    except OSError:
        return None


def parquet_rows(root: str) -> int:
    """Row count of every parquet file under ``root``, from the footers."""
    n = 0
    for d, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
    return n
