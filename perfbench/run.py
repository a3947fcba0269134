"""meza_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload csv_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a meza_spark checkout. The launcher

1. generates the workload's inputs from ``--seed`` (cached per workload
   and seed under ``.perfbench_work/inputs`` in the checkout), outside
   every timed window;
2. starts ``worker.py`` in a fresh Python process with a fixed
   environment: the checkout on ``PYTHONPATH`` (Python workers import
   meza_spark for the fuzzy-date cast), Spark at ``local[k]`` with k =
   half the usable CPUs, a pinned driver heap, and every temporary
   file under the run's own directory;
3. samples the resident memory of the worker's whole process tree
   (Python driver, JVM, Python workers) while it runs;
4. stops anything the worker left running and prints, as its last
   stdout line, one JSON object with ``correct``, ``attempted``,
   ``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1``).

It exits non-zero without a result when the checkout holds no
meza_spark package or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
INPUTS_VERSION = 2       # bump when a generator changes its output
KEEP_INPUTS = 4          # cached input sets kept per checkout
DRIVER_MEM = "1g"
DEADLINE_S = 170         # the whole run, generation included

sys.path.insert(0, HERE)

from workloads import GENERATORS  # noqa: E402  (stdlib-only at import)


def _inputs(workload: str, seed: int) -> str:
    """Generate (or reuse) the inputs for (workload, seed)."""
    base = os.path.join(WORK, "inputs")
    path = os.path.join(base, f"{workload}-{seed}-v{INPUTS_VERSION}")
    if os.path.exists(os.path.join(path, "truth.json")):
        os.utime(path)
        return path
    os.makedirs(base, exist_ok=True)
    cached = sorted((os.path.join(base, d) for d in os.listdir(base)),
                    key=os.path.getmtime)
    for old in cached[:max(0, len(cached) - KEEP_INPUTS + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = GENERATORS[workload](seed, tmp)
    with open(os.path.join(tmp, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f)
    os.replace(tmp, path)
    return path


class TreeMemory:
    """Samples the summed resident memory of a process and all its
    descendants, split into the root Python process, JVMs and other
    processes (Spark's Python workers), and remembers every pid seen."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = {"total": 0.0, "driver_py": 0.0, "jvm": 0.0,
                     "workers": 0.0}
        self.seen: dict[int, str] = {}   # pid → start time, for cleanup
        self._stop = threading.Event()
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / (1 << 20)
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        started: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            children.setdefault(int(fields[1]), []).append(int(name))
            started[int(name)] = fields[19]
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        for p in out:
            if p in started:
                self.seen.setdefault(p, started[p])
        return out

    def _sample(self) -> None:
        now = {"driver_py": 0.0, "jvm": 0.0, "workers": 0.0}
        for p in self.descendants():
            try:
                with open(f"/proc/{p}/statm", encoding="ascii") as f:
                    rss = int(f.read().split()[1]) * self._page_mb
                with open(f"/proc/{p}/comm", encoding="ascii") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            kind = ("driver_py" if p == self.pid
                    else "jvm" if comm == "java" else "workers")
            now[kind] += rss
        now["total"] = sum(now.values())
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def kill_leftovers(self) -> None:
        """Stop every process of the tree that is still alive and wait
        until all are gone."""
        def alive() -> list[int]:
            out = []
            for p, start in self.seen.items():
                try:
                    with open(f"/proc/{p}/stat", encoding="ascii") as f:
                        stat = f.read()
                except OSError:
                    continue
                fields = stat[stat.rindex(")") + 2:].split()
                if fields[19] == start and fields[0] != "Z":
                    out.append(p)
            return out

        for sig in (signal.SIGTERM, signal.SIGKILL):
            for p in alive():
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            deadline = time.time() + 5
            while alive() and time.time() < deadline:
                time.sleep(0.1)
            if not alive():
                return


def _end_to_end(res: dict, mem: TreeMemory) -> dict:
    d = res["durations"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "first_step_s": (res["first_step_s"] or 0.0, "s"),
        "step_p50_s": (statistics.median(d) if d else 0.0, "s"),
        "rows_per_s": (res["rows"] / sum(d) if d else 0.0, "1/s"),
        "peak_rss_mb": (mem.peak["total"], "MB"),
    }


def _per_layer(res: dict, mem: TreeMemory) -> dict:
    out = {}
    for name, v in res.get("layers", {}).items():
        unit = ("count" if name.endswith("jobs")
                or name in ("spark.stages", "spark.tasks")
                else "MB" if name.endswith("_mb")
                else "ratio" if name.endswith(("_frac", "precision", "recall"))
                else "s")
        out[name] = (v, unit)
    for k in ("driver_py", "jvm", "workers"):
        out[f"rss.{k}_mb"] = (mem.peak[k], "MB")
    out["failed_frac"] = (res["failed"] / res["attempted"], "ratio")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not os.path.isfile(os.path.join(ROOT, "meza_spark", "__init__.py")):
        print(f"perfbench: no meza_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    inputs = _inputs(args.workload, args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONHASHSEED": "0",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--inputs", inputs,
           "--work", run_dir, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores),
           "--spans", os.path.join(WORK, "spans",
                                   f"{args.workload}-{args.seed}.json")]
    t0 = time.time()
    child = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
                             stdout=sys.stderr, stdin=subprocess.DEVNULL)
    mem = TreeMemory(child.pid)
    mem.start()
    try:
        code = child.wait(timeout=max(1, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker timed out", file=sys.stderr)
        code = None
    finally:
        mem.stop()
        mem.kill_leftovers()
        if child.poll() is None:
            child.kill()
        child.wait()
    try:
        with open(os.path.join(run_dir, "result.json"), encoding="utf-8") as f:
            res = json.load(f)
    except OSError:
        res = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or res is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    for msg in res["failures"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print("perfbench: timed steps (s): "
          + " ".join(f"{d:.3f}" for d in res["durations"])
          + "; peak RSS (MB): "
          + " ".join(f"{k} {v:.0f}" for k, v in mem.peak.items()),
          file=sys.stderr)

    metrics = (_per_layer if args.trace else _end_to_end)(res, mem)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
