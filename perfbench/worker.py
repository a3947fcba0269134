"""The measured process of one benchmark run (started by ``run.py``).

It creates the SparkSession, runs one cold step, a fixed number of
warm-up steps and then timed steps until ``--seconds`` have passed,
checking every step's output. It writes ``result.json`` into ``--work``.

With ``--trace 1`` every call into a meza_spark layer is wrapped in a
span (name, step, start, end, Spark job ids) held in memory, the Spark
event log is on, and after the session stops the spans and the event
log are folded into per-layer metrics. The spans are dumped to
``--spans`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from workloads import WORKLOADS, load_truth  # noqa: E402

# Steps run after the cold one and before timing starts. Warm steps keep
# getting faster for several steps (JIT), most on the first; the fixed
# time budget of a run (NOTES.md) leaves room for one such step on the
# two listed workloads. The drift left is the same at the same step
# positions in every run, so timed medians stay comparable.
WARMUP_STEPS = {"csv_ingest": 3, "csv_batch": 1, "llm_curation": 1}

# Every layer call a workload makes, in pipeline order; the traced run
# reports ``<name>.s`` and ``<name>.jobs`` for each (0 where a workload
# does not call it).
LAYER_CALLS = [
    "io.read_csv", "typetools.detect_types", "convert.type_cast",
    "process.unique", "process.join", "process.group", "process.pivot",
    "process.topk_per_group",
    "llm.text.quality_score", "llm.text.gopher_filter",
    "llm.dedup.exact_dedup", "llm.cluster.near_dedup",
    "llm.sampling.pack_shards",
    "io.records2csv", "io.write",
]


class Tracer:
    """Spans around layer calls. Off: ``call`` is a plain call."""

    def __init__(self, on: bool):
        self.on = on
        self.step = -1
        self.spans: list[dict] = []

    def attach(self, sc) -> None:
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()

    def _job_ids(self) -> set[int]:
        # job start events reach the status store through the listener
        # bus; drain it so a job that just ended is counted here
        self._bus.waitUntilEmpty(60_000)
        return set(self._tracker.getJobIdsForGroup())

    def call(self, name: str, fn, *args, sink: bool = False, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        before = self._job_ids()
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        t1 = time.perf_counter()
        self.spans.append({
            "step": self.step, "name": name,
            "kind": "exec" if sink else "build", "start": t0, "end": t1,
            "jobs": sorted(self._job_ids() - before)})
        return out


def _session(k: int, work: str, trace: bool):
    from meza_spark import session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return session.get_spark(app_name="perfbench", master=f"local[{k}]",
                             shuffle_partitions=k, conf=conf)


def _layer_metrics(tracer: Tracer, timed: list[int],
                   get_spark_s: float) -> dict:
    """Per-step means over the timed steps, plus the cold step's split
    (step 0)."""
    n = max(1, len(timed))
    timed_set = set(timed)
    out: dict[str, float] = {"session.get_spark.s": get_spark_s,
                             "session.get_spark.jobs": 0}
    for name in LAYER_CALLS:
        spans = [s for s in tracer.spans
                 if s["name"] == name and s["step"] in timed_set]
        out[f"{name}.s"] = sum(s["end"] - s["start"] for s in spans) / n
        out[f"{name}.jobs"] = sum(len(s["jobs"]) for s in spans) / n
    for kind in ("build", "exec"):
        spans = [s for s in tracer.spans
                 if s["kind"] == kind and s["step"] in timed_set]
        out[f"{kind}_s"] = sum(s["end"] - s["start"] for s in spans) / n
        out[f"{kind}_jobs"] = sum(len(s["jobs"]) for s in spans) / n
        out[f"first_step.{kind}_s"] = sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["kind"] == kind and s["step"] == 0)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="where a traced run dumps its spans")
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall-clock time the launcher started this process")
    args = ap.parse_args()

    tracer = Tracer(bool(args.trace))
    t = time.perf_counter()
    spark = _session(args.cores, args.work, tracer.on)
    get_spark_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if tracer.on:
        tracer.attach(sc)

    wl = WORKLOADS[args.workload](spark, tracer, args.inputs,
                                  load_truth(args.inputs),
                                  os.path.join(args.work, "out"))
    failures: list[str] = []
    attempted = failed = extra_nulls = values = 0

    def run_step(i: int) -> tuple[float | None, bool]:
        """Run and check step ``i``: (duration, None if it raised; ok)."""
        nonlocal attempted, failed, extra_nulls, values
        tracer.step = i
        t0 = time.perf_counter()
        dur = None
        try:
            wl.step(i)
            dur = time.perf_counter() - t0
            errs, nulls, vals = wl.check(i)
        except Exception:  # a failing step is counted, the run goes on
            traceback.print_exc()
            errs, nulls, vals = [f"step {i} raised"], 0, 0
        finally:
            wl.clean(i)
        attempted += 1
        failed += bool(errs)
        extra_nulls += nulls
        values += vals
        failures.extend(errs[:3])
        return dur, not errs

    first, _ = run_step(0)
    i = 1
    for _ in range(WARMUP_STEPS[args.workload]):
        run_step(i)
        i += 1
    setup_s = time.time() - args.t0

    durations, timed = [], []
    start = time.perf_counter()
    while time.perf_counter() - start < args.seconds \
            and i < wl.steps_available():
        d, ok = run_step(i)
        if ok:
            durations.append(d)
            timed.append(i)
        i += 1

    result = {
        "attempted": attempted, "failed": failed,
        "failures": failures[:20],
        "setup_s": setup_s, "first_step_s": first,
        "durations": durations,
        "rows": sum(wl.rows(j) for j in timed),
    }
    if tracer.on:
        layers = _layer_metrics(tracer, timed, get_spark_s)
        layers["trace.step_p50_s"] = (statistics.median(durations)
                                      if durations else 0.0)
        layers["convert.null_frac"] = extra_nulls / values if values else 0.0
        layers["llm.dedup.recall"] = getattr(wl, "recall", 0.0)
        layers["llm.dedup.pair_precision"] = (
            wl.pair_precision() if hasattr(wl, "pair_precision") else 0.0)
    spark.stop()
    if tracer.on:
        # the event log is complete once the session has stopped
        timed_set = set(timed)
        step_of_job = {j: s["step"] for s in tracer.spans for j in s["jobs"]
                       if s["step"] in timed_set}
        layers.update(eventlog.step_metrics(
            os.path.join(args.work, "events"), step_of_job,
            max(1, len(timed))))
        result["layers"] = layers
        os.makedirs(os.path.dirname(args.spans), exist_ok=True)
        with open(args.spans, "w", encoding="utf-8") as f:
            json.dump(tracer.spans, f)
    with open(os.path.join(args.work, "result.json"), "w",
              encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
