"""Self-test of the event-log fold on a tiny synthetic event log.  ``run.py`` calls ``check()`` before
every run; ``python3 perfbench/selftest.py`` runs it alone."""

from __future__ import annotations

import json
import os
import sys
import tempfile

from eventlog import fold, read_events

MIB = 1024 * 1024


def _task(stage: int, cpu_ns: int, gc_ms: int, written: int, read: int,
          peak: int) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Peak Execution Memory": peak,
                "Shuffle Read Metrics": {"Remote Bytes Read": read // 2,
                                         "Local Bytes Read": read - read // 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def _job(stages: list[int], group: str | None) -> dict:
    props = {} if group is None else {"spark.jobGroup.id": group}
    return {"Event": "SparkListenerJobStart", "Stage IDs": stages,
            "Properties": props}


EVENTS = [
    {"Event": "SparkListenerLogStart"},
    _job([0, 1], "blocks"),
    _task(0, 2_000_000_000, 100, 3 * MIB, 0, 5 * MIB),
    _task(1, 1_000_000_000, 50, 0, 2 * MIB, 9 * MIB),
    # a later job listing stage 1 again (skipped stage) keeps its group
    _job([1, 2], "pairs"),
    _task(2, 500_000_000, 0, MIB, MIB, 2 * MIB),
    _job([3], None),
    _task(3, 1_000_000_000, 0, 0, 0, 0),
    # failed task without metrics
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2},
]

EXPECTED = {
    "blocks": {"executor_cpu_s": 3.0, "gc_s": 0.15, "shuffle_write_mb": 3.0,
               "shuffle_read_mb": 2.0, "peak_exec_mem_mb": 9.0, "tasks": 2},
    "pairs": {"executor_cpu_s": 0.5, "gc_s": 0.0, "shuffle_write_mb": 1.0,
              "shuffle_read_mb": 1.0, "peak_exec_mem_mb": 2.0, "tasks": 1},
    "": {"executor_cpu_s": 1.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
         "shuffle_read_mb": 0.0, "peak_exec_mem_mb": 0.0, "tasks": 1},
}


def _close(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(abs(a[k] - b[k]) < 1e-9 for k in a)


def check() -> None:
    """Raise RuntimeError unless the fold behaves."""
    with tempfile.TemporaryDirectory() as d:
        app = "local-1"
        part = os.path.join(d, f"eventlog_v2_{app}")
        os.makedirs(part)
        half = len(EVENTS) // 2
        # two rolled files, numbered so lexical order would be wrong
        for idx, chunk in ((10, EVENTS[half:]), (9, EVENTS[:half])):
            with open(os.path.join(part, f"events_{idx}_{app}"), "w") as f:
                for ev in chunk:
                    f.write(json.dumps(ev) + "\n")
        got = fold(read_events(d, app))
    if got.keys() != EXPECTED.keys() or not all(
            _close(got[g], EXPECTED[g]) for g in EXPECTED):
        raise RuntimeError(f"event-log fold: got {got}")


if __name__ == "__main__":
    check()
    print("selftest ok")
    sys.exit(0)
