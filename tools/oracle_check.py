"""Local differential oracle harness — mimics the driver's t2 check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given SF, then compares row count, column names, and an
order-insensitive value hash (cells normalized to strings, rows sorted).

Usage: python tools/oracle_check.py [--strict-types] [sf_dir] [query ...]

A query whose input is absent on this host (``unavailable()`` in
``__spark_entry__``, e.g. the golden_* gates without the reference
checkout) prints UNAVAILABLE and is counted apart from the failures.

``--strict-types`` disables the float→int folding in ``norm_cell`` so a
DuckDB float64 ``3.0`` no longer hashes equal to Spark's int ``3`` —
the driver's hash is strict, and round 4 showed the lenient local mode
can hide oracle output-typing bugs (dedup_simhash). Run the full suite
with this flag once per round.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# set by main() from --strict-types; module-global so frame_hash stays
# importable by tests with either behavior
STRICT_TYPES = False


def norm_cell(v):
    import datetime
    import math

    import numpy as np

    # list-valued cells (collect_list / duckdb list()) normalize
    # element-wise; spark returns Python lists, duckdb numpy arrays
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if STRICT_TYPES:
            return repr(v)
        return repr(v) if v != int(v) or abs(v) >= 1e15 else str(int(v))
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, str, str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = ["\x1f".join(norm_cell(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(rows), ",".join(cols), h


def main():
    global STRICT_TYPES
    args = [a for a in sys.argv[1:] if a != "--strict-types"]
    STRICT_TYPES = "--strict-types" in sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) \
        else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))

    import __spark_entry__ as entry
    from meza_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            # driver SFs are single files; Spark-written tables (e.g.
            # the bench's sf1 replica) are DIRECTORIES of part files
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    missing = entry.unavailable()
    # VALUES-pinned oracles apply at the SF they were captured at
    # (r8: both 0.01 and 0.1 are captured, so SCALE_DIFF covers the
    # full registry); any other SF reports PINNED-SKIP.
    try:
        from _oracle_pins import PINNED_BY_SF

        cur_sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        pins_here = PINNED_BY_SF.get(cur_sf, {})
        oracles = dict(oracles, **pins_here)
        pinned_names = set().union(*PINNED_BY_SF.values()) \
            - set(pins_here)
    except ImportError:
        pinned_names = set()
    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in missing:
            results.append((name, "UNAVAILABLE", f"{missing[name]} is absent"))
            continue
        if name in pinned_names:
            results.append((name, "PINNED-SKIP",
                            "VALUES pin captured at other SFs only"))
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results.append((name, "SPARK-ERROR", str(e)[:200]))
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            results.append((name, "ROWS-ONLY", f"{len(sdf)} rows "
                            f"({spark_t:.1f}s)"))
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            results.append((name, "ORACLE-ERROR", str(e)[:200]))
            continue
        sn, sc, sh = frame_hash(sdf)
        on_, oc, oh = frame_hash(odf)
        if sn != on_:
            results.append((name, "ROWCOUNT-MISMATCH", f"spark={sn} duck={on_}"))
        elif sc != oc:
            results.append((name, "SCHEMA-MISMATCH", f"spark=[{sc}] duck=[{oc}]"))
        elif sh != oh:
            # show first differing rows to debug
            results.append((name, "HASH-MISMATCH", f"n={sn}"))
        else:
            results.append((name, "OK", f"{sn} rows ({spark_t:.1f}s)"))

    fails = 0
    for name, status, detail in results:
        mark = "✓" if status == "OK" else (
            "~" if status in ("ROWS-ONLY", "PINNED-SKIP") else
            "-" if status == "UNAVAILABLE" else "✗")
        if mark == "✗":
            fails += 1
        print(f"{mark} {name:24s} {status:18s} {detail}")
    n_unavail = sum(status == "UNAVAILABLE" for _, status, _ in results)
    print(f"\n{len(results)} queries, {fails} failing, "
          f"{n_unavail} unavailable")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
