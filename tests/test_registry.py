"""The query registry of ``__spark_entry__``: one registration per name,
one source of check per query, and the lazy-plan memo across a session
restart."""

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry
import bench
from _oracle_pins import PINNED_BY_SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# No twin and no pin: each is checked by its *_fast_parity query, which
# compares it with the plain window builder of the same name.
FAST = {"zscore_events_fast", "cusum_events_fast", "ewma_events_fast"}


def test_second_registration_raises():
    before = entry.queries()

    def q1_pricing(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q1_pricing"):
        entry.query("SELECT 1")(q1_pricing)
    with pytest.raises(ValueError, match="q1_pricing"):
        entry.query(q1_pricing)
    assert entry.queries() == before
    assert entry.oracle_sql()["q1_pricing"] != "SELECT 1"


def test_headline_names_registered_once():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert set(bench.HEADLINE) <= set(entry.queries())


def test_each_query_has_exactly_one_check():
    pinned = set().union(*PINNED_BY_SF.values())
    for name in entry.queries():
        checks = [name in entry._TWINS, name in pinned, name in FAST]
        assert sum(checks) == 1, (name, checks)
    for name in FAST:
        parity = name.replace("_events_fast", "_fast_parity")
        assert parity in entry._TWINS


_RESTART = """
import json, sys
sys.path.insert(0, {root!r})
import pandas as pd
import __spark_entry__ as e
from meza_spark.session import get_spark

sf = {sf!r}
s1 = get_spark("restart_a", master="local[1]", shuffle_partitions=1)
e.cut_project(s1, sf).collect()
stopped = id(s1)
s1.stop()
s2 = get_spark("restart_b", master="local[1]", shuffle_partitions=1)
got = sorted(map(tuple, e.cut_project(s2, sf).collect()))
want = pd.read_parquet(sf + "/lineitem.parquet",
                       columns=["l_orderkey", "l_linenumber", "l_quantity"])
print(json.dumps({{
    "correct": got == sorted(want.itertuples(index=False, name=None)),
    "rows": len(got),
    "stale": sum(k[0] == stopped for k in e._T_MEMO),
    "live": sum(k[0] == id(s2) for k in e._T_MEMO),
}}))
s2.stop()
"""


def test_t_memo_drops_a_stopped_session(sf_dir):
    # a subprocess, so the shared session fixture is never stopped
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    script = _RESTART.format(root=ROOT, sf=sf_dir)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=600,
                         check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["rows"] > 0
    assert res["stale"] == 0
    assert res["live"] == 1
