"""Spans around the engine's public calls, and the Spark event-log parser.

A span sets a Spark job group named after the layer, times the call and
counts the group's jobs and stages with ``statusTracker`` (which works
with the UI off). The event log, enabled only in traced runs, adds what
the tracker does not carry: shuffle bytes, spill, executor run time,
and which stages ran the tag kernel (a ``MapInPandas`` RDD scope).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# stage accumulables read from the event log
_ACC = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}

TAG_SCOPE = "MapInPandas"


class Tracer:
    """Records one span per layer call; spans are kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, dict] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.sc.setJobGroup("", "")
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(name)
            stages = 0
            for j in jobs:
                info = st.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            self.spans[name] = {"s": dt, "jobs": len(jobs), "stages": stages}


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, completed stages, summed stage accumulables
    (see _ACC), and the completed stages that ran a MapInPandas scope
    (each as {records_in, duration_s}, in completion order).

    `path` is an event-log file or a directory holding exactly one."""
    if os.path.isdir(path):
        (name,) = os.listdir(path)
        path = os.path.join(path, name)
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(g: str) -> dict:
        return groups.setdefault(g, {"jobs": 0, "stages": 0, "tag_stages": [],
                                     **{v: 0 for v in _ACC.values()}})

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                group(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" in info:
                    continue
                agg = group(stage_group.get(info["Stage ID"], ""))
                agg["stages"] += 1
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                for src, dst in _ACC.items():
                    agg[dst] += int(acc.get(src) or 0)
                scopes = {json.loads(r["Scope"]).get("name")
                          for r in info.get("RDD Info", []) if r.get("Scope")}
                if TAG_SCOPE in scopes:
                    agg["tag_stages"].append({
                        "records_in": int(acc.get("internal.metrics.shuffle.read.recordsRead") or 0),
                        "duration_s": (info["Completion Time"] - info["Submission Time"]) / 1000.0,
                    })
    return groups


def worker_rss_mb(spark, slots: int) -> float:
    """Summed peak RSS of the Python workers, in MB. One task per slot,
    each held long enough that every slot's worker answers; workers are
    told apart by pid."""

    def probe(batches):
        import resource

        import pandas as pd

        for _ in batches:
            pass
        time.sleep(0.3)
        yield pd.DataFrame({"pid": [os.getpid()],
                            "kb": [resource.getrusage(resource.RUSAGE_SELF).ru_maxrss]})

    rows = (spark.range(0, slots, 1, slots)
            .mapInPandas(probe, "pid long, kb long").collect())
    peak = {r["pid"]: r["kb"] for r in rows}
    return sum(peak.values()) / 1024.0


def jvm_rss_mb(spark) -> float:
    """Resident set of the driver JVM, in MB (procfs VmRSS)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS missing from procfs")
