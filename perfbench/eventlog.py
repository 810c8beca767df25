"""Fold Spark's own event log into per-job-group task counters.

A traced run sets ``sc.setJobGroup(<layer>, ...)`` around each call into a
layer, and starts the session with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``.  Spark then writes one JSON object per
line.  ``SparkListenerJobStart`` carries the job group in its properties
and lists its stage ids; every ``SparkListenerTaskEnd`` names its stage and
carries the task's metrics.  Folding task metrics by stage, and stages by
the job group of the first job that lists them, attributes every executed
task to the layer whose call launched it.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterable

MIB = 1024.0 * 1024.0

#: counters folded per job group, in report order
COUNTERS = ("executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
            "peak_exec_mem_mb", "tasks")


def _empty() -> dict[str, float]:
    return {c: 0.0 for c in COUNTERS}


def fold(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    """Task counters summed per job group (``peak_exec_mem_mb`` is the
    largest single task's peak).  Tasks of jobs launched with no group are
    folded under the empty string."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:  # failed or killed tasks may carry no metrics
                continue
            acc = out.setdefault(stage_group.get(ev["Stage ID"], ""),
                                 _empty())
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MIB
            acc["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                       + rd.get("Local Bytes Read", 0)) / MIB
            acc["peak_exec_mem_mb"] = max(
                acc["peak_exec_mem_mb"],
                m.get("Peak Execution Memory", 0) / MIB)
            acc["tasks"] += 1
    return out


def _part_index(path: str) -> int:
    m = re.search(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def read_events(log_dir: str, app_id: str) -> Iterable[dict]:
    """Events of application ``app_id`` under ``spark.eventLog.dir``, in
    order, from the rolling layout the traced session is configured to
    write (``eventlog_v2_<app>/events_<n>_<app>``)."""
    parts = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}",
                                          "events_*")), key=_part_index)
    if not parts:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    for path in parts:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)
