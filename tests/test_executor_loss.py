"""Executor loss: a lineage cut must not lose its rows with an executor.

``util.lineage_cut`` keeps a cut as reliable checkpoint files when
Spark has a checkpoint dir and as ``localCheckpoint`` blocks in
executor storage otherwise. One subprocess runs both cases under
``local-cluster[2,1,1024]`` (two one-core executor JVMs), because the
shared ``spark`` fixture must never get a checkpoint dir and Spark
cannot unset one: first without a dir, then, after
``setCheckpointDir`` (what ``spark.checkpoint.dir`` does at start-up)
and a replacement executor, with one. Each case builds and collects
``near_dedup``, ``pack_shards`` and ``slice_rows`` frames, kills one
executor, collects them again and reports both results.

Without a checkpoint dir the child looks up the executors holding each
cut's blocks, kills one that holds a block of every cut and checks
that the kill removed exactly those blocks. With a checkpoint dir it
checks that every cut is a set of checkpoint files and that no
executor holds a block of one: the kill has nothing of the cuts to
remove, which is the point.

At this corpus size ``near_dedup``'s cuts feed a driver-side
union-find, so its collected frame reads none of them; its rows are
compared all the same. ``pack_shards`` and ``slice_rows`` read their
``range_offsets`` cut.
"""

import glob
import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wait(cond, what):
    deadline = time.time() + 60
    while not cond():
        assert time.time() < deadline, what
        time.sleep(0.1)


def _case(spark, ckpt_dir):
    """Build, collect, kill an executor, collect again."""
    from meza_spark.llm.cluster import near_dedup
    from meza_spark.llm.sampling import pack_shards
    from meza_spark.process import slice_rows

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    bmm = jsc.env().blockManager().master()

    def held():
        """{executor id: {RDD id: number of its blocks held there}}"""
        out = {}
        for st in bmm.getStorageStatus():
            eid, it = (st.blockManagerId().executorId(),
                       st.rddBlocks().keySet().iterator())
            if eid != "driver":
                out[eid] = Counter(it.next().rddId()
                                   for _ in range(st.rddBlocks().size()))
        return out

    def cached():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    earlier = cached()
    # every 4th doc is one of three near-copies of one sentence
    dup = "spark first distributed dedup of training corpora at scale"
    df = spark.createDataFrame(
        [(i, f"{dup} v{i % 3}" if i % 4 == 0
          else f"doc {i} on topic {i * 7919 % 101} of set {i % 7}",
          i % 5 + 1) for i in range(48)], "doc_id long, text string, w int")
    frames = [near_dedup(df, method="ngram", n=3, min_jaccard=0.5),
              pack_shards(df, "w", budget=20, order_by="doc_id"),
              slice_rows(df, "doc_id", first=3, last=40)]

    def collect():
        return [sorted(map(tuple, f.collect())) for f in frames]

    before = collect()
    # barrier drops its caches, so every RDD cached since is a cut
    new = cached() - earlier
    holds = held()
    if ckpt_dir:
        cuts = glob.glob(os.path.join(
            sc.getCheckpointDir().removeprefix("file:"), "rdd-*"))
        assert cuts and all(glob.glob(os.path.join(c, "part-*"))
                            for c in cuts), cuts
        assert not new, new
        victim = min(holds)
    else:
        cuts = new
        victim = min((e for e in holds if all(holds[e][r] for r in cuts)),
                     default=None)
        assert cuts and victim is not None, (cuts, holds)

    # the master starts a replacement, for the next case
    assert jsc.killAndReplaceExecutor(victim)
    _wait(lambda: victim not in held(), "executor was not removed")
    # the kill removed every cut block the victim held, and only those
    lost = sum(holds[victim][r] for r in new)
    assert (sum(c[r] for c in held().values() for r in new)
            == sum(c[r] for c in holds.values() for r in new) - lost)
    assert bool(lost) != bool(ckpt_dir), lost
    try:
        after, error = collect(), None
    except Exception as e:  # noqa: BLE001 — reported to the test
        after, error = None, next(
            (ln for ln in str(e).splitlines() if "CHECKPOINT" in ln),
            str(e)[:300])
    return {"cuts": len(cuts), "lost_blocks": lost,
            "same": after == before, "error": error}


def _child(out_path, ckpt_dir):
    from pyspark.find_spark_home import _find_spark_home

    from meza_spark.session import get_spark

    spark = get_spark("executor_loss", master="local-cluster[2,1,1024]",
                      shuffle_partitions=4, conf={
                          "spark.driver.memory": "1g",
                          "spark.executor.memory": "512m",
                          "spark.ui.enabled": "false",
                          # every cut keeps four shuffle partitions, so
                          # both executors compute some of each
                          "spark.sql.adaptive.coalescePartitions.enabled":
                              "false",
                          # drop a killed executor at once, not after
                          # the default 5 s wait for a loss reason
                          "spark.standalone."
                          "executorRemoveDelayOnDisconnection": "100ms"})
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    n_execs = lambda: jsc.getExecutorMemoryStatus().size() - 1  # noqa: E731
    try:
        _wait(lambda: n_execs() == 2, "executors did not start")
        result = {"no_checkpoint_dir": _case(spark, None)}
        sc.setCheckpointDir(ckpt_dir)
        _wait(lambda: n_execs() == 2, "no replacement executor")
        result["checkpoint_dir"] = _case(spark, ckpt_dir)
    finally:
        app = sc.applicationId
        spark.stop()
        # local-cluster workers keep executor logs under SPARK_HOME
        shutil.rmtree(os.path.join(_find_spark_home(), "work", app),
                      ignore_errors=True)
    with open(out_path, "w") as fh:
        json.dump(result, fh)


@pytest.fixture(scope="module")
def outcome(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("executor_loss")
    out = tmp / "result.json"
    proc = subprocess.run(
        [sys.executable, __file__, str(out), str(tmp / "ckpt")],
        env=dict(os.environ, PYTHONPATH=ROOT), capture_output=True,
        text=True, timeout=300)
    if proc.returncode:
        # the child's own checks (a victim holding a block of every
        # cut, the blocks the kill removed) are not the expected loss
        raise RuntimeError(proc.stderr[-3000:])
    return json.loads(out.read_text())


@pytest.mark.parametrize("case", [
    "checkpoint_dir",
    pytest.param("no_checkpoint_dir", marks=pytest.mark.xfail(
        strict=True, raises=AssertionError,
        reason="localCheckpoint blocks die with their executor")),
])
def test_cuts_survive_executor_loss(outcome, case):
    res = outcome[case]
    assert res["error"] is None and res["same"], res


if __name__ == "__main__":
    _child(sys.argv[1], sys.argv[2])
