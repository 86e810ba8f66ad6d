"""Fold an uncompressed Spark event log into per-job-group stage totals.

Each job carries its job group in ``SparkListenerJobStart`` properties
(``spark.jobGroup.id``); a stage belongs to the first job that lists it
(later jobs reuse a computed shuffle stage without running it). Task
metrics are summed per stage from ``SparkListenerTaskEnd``; SQL metrics
(such as the Python UDF time of Arrow stages) come from the accumulables
of ``SparkListenerStageCompleted``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

#: the SQL metric (ms) of Arrow/pandas stages that reports time spent
#: running Python workers (Spark 4.1)
PYTHON_TIME_METRIC = "time to run Python workers"


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {executor_s, gc_s, shuffle_mb, spill_mb, python_s}}."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    s = per_stage[ev["Stage ID"]]
                    s["executor_s"] += m.get("Executor Run Time", 0) / 1000
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    s["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                    s["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PYTHON_TIME_METRIC:
                            per_stage[info["Stage ID"]]["python_s"] += float(acc.get("Value", 0)) / 1000
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, metrics in per_stage.items():
        group = stage_group.get(sid, "none")
        for k, v in metrics.items():
            out[group][k] += v
    return out
