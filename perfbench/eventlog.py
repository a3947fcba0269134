"""Per-step Spark execution metrics from a local event log.

The traced run enables ``spark.eventLog`` (uncompressed JSON lines).
Tasks are attributed to a benchmark step through their stage's job:
``SparkListenerJobStart`` lists a job's stage ids, and the tracer
recorded which step launched each job id.
"""

from __future__ import annotations

import json
import os

MB = 1 << 20

METRICS = ["stages", "tasks", "executor_run_s", "executor_cpu_s",
           "jvm_gc_s", "scheduler_delay_s", "shuffle_read_mb",
           "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"]


def _task_values(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    ser_ms = m.get("Result Serialization Time", 0)
    got = info.get("Getting Result Time", 0)
    fetch_ms = info["Finish Time"] - got if got else 0
    duration = info["Finish Time"] - info["Launch Time"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "jvm_gc_s": m.get("JVM GC Time", 0) / 1e3,
        # the Spark UI's definition of scheduler delay
        "scheduler_delay_s":
            max(0, duration - run_ms - deser_ms - ser_ms - fetch_ms) / 1e3,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": (m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0)) / MB,
        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        "output_mb":
            (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
    }


def step_metrics(events_dir: str, step_of_job: dict[int, int],
                 n_steps: int) -> dict[str, float]:
    """Sum task metrics over the jobs in ``step_of_job`` and divide by
    ``n_steps``; keys are ``spark.<metric>``."""
    totals = dict.fromkeys(METRICS, 0.0)
    stage_step: dict[int, int] = {}
    stages_run: set[int] = set()
    # Spark 4 writes a rolling log: a directory of ``events_<n>_*`` files
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(events_dir)
                   for n in names if not n.startswith(("appstatus", ".")))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    if job in step_of_job:
                        for st in ev["Stage IDs"]:
                            stage_step.setdefault(st, step_of_job[job])
                elif kind == "SparkListenerTaskEnd" \
                        and ev["Stage ID"] in stage_step:
                    stages_run.add(ev["Stage ID"])
                    for k, v in _task_values(ev).items():
                        totals[k] += v
    totals["stages"] = len(stages_run)
    return {f"spark.{k}": v / n_steps for k, v in totals.items()}
