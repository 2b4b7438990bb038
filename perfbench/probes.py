"""Counters read from the running engine: the JVM's own MXBeans and
``/proc``, the status tracker's job/stage/task counts, and the
streaming query's progress reports."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import SparkSession


def jvm_pid(spark: SparkSession) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_gc_s(spark: SparkSession) -> float:
    """Total collection time of every JVM garbage collector."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_cpu_s(spark: SparkSession) -> float:
    """User plus system CPU seconds of the JVM process, from /proc."""
    with open(f"/proc/{jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class JobCounter:
    """Jobs, stages and tasks the engine launched under a job group."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def count(self, name: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(name)
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks


def _progress_ms(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").timestamp() * 1000.0


def batch_rows(progress: list[dict]) -> list[dict]:
    """Progress reports of batches that read input, in batch order, each
    reduced to id, rows, start/end (ms) and the duration breakdown."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if p["numInputRows"] <= 0:
            continue
        start = _progress_ms(p["timestamp"])
        d = p["durationMs"]
        out.append(
            {
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "start_ms": start,
                "end_ms": start + d["triggerExecution"],
                "durations": dict(d),
            }
        )
    return out
