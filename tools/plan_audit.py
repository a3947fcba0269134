"""Physical-plan audit across the whole query registry.

For every ``queries()`` entry, build the DataFrame at the given SF
(plans only — no execution beyond what eager builders do) and count
the plan features that matter at 100 TB:

  - exchanges (shuffles), and whether AQE can coalesce them
  - join strategies (broadcast vs sort-merge vs nested-loop)
  - Python boundary nodes (BatchEvalPython / ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas)
  - unpartitioned windows (single-reducer hazard)
  - scans with pushed filters

Writes PLANS.md (one row per query) + a hazard summary to stdout.
A query whose input is absent on this host (``unavailable()`` in
``__spark_entry__``) keeps the row the existing PLANS.md has for it.
Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _plan(df, mode="formatted"):
    from meza_spark.util import explain_str

    return explain_str(df, mode)


def _rows_in(md: str) -> dict[str, tuple]:
    """query -> cells of each table row in an existing PLANS.md."""
    if not os.path.exists(md):
        return {}
    rows = {}
    with open(md) as f:
        for ln in f:
            cells = tuple(c.strip() for c in ln.strip()[1:-1].split("|"))
            if ln.startswith("| ") and len(cells) == 7:
                rows[cells[0]] = cells
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    import __spark_entry__ as entry
    from meza_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    hazards = []
    missing = entry.unavailable()
    kept = _rows_in(out_md)
    for name, fn in sorted(entry.queries().items()):
        if name in missing:
            rows.append(kept.get(name) or (
                name, "-", "-", "-", "-", "-",
                f"unavailable: {missing[name]} is absent"))
            print(f"{name}: unavailable, row kept")
            continue
        try:
            df = fn(spark, sf_dir)
            simple = _plan(df, "simple")
            full = _plan(df, "formatted")
        except Exception as e:  # noqa: BLE001 — audit must not abort
            rows.append((name, "-", "-", "-", "-", "-",
                         f"BUILD ERROR: {str(e)[:60]}"))
            hazards.append(f"{name}: build error")
            continue
        # SHUFFLE exchanges only — "BroadcastExchange" also contains
        # the substring "Exchange" but moves a small build side, not
        # the data
        n_ex = len(re.findall(
            r"(?<!Broadcast)Exchange (?:hash|range|Single)", simple))
        n_bhj = simple.count("BroadcastHashJoin")
        n_smj = simple.count("SortMergeJoin")
        n_nl = simple.count("NestedLoopJoin")
        n_py = sum(simple.count(x) for x in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState"))
        # single-partition window: a Window whose required child
        # distribution collapsed to one partition (Exchange
        # SinglePartition directly feeding a Window) — the
        # single-reducer hazard unless the input is a small aggregate
        unpart_win = bool(re.search(
            r"Exchange SinglePartition[^\n]*\n(?:[^\n]*\n)?\s*[^\n]*Window ",
            simple))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", full))
        note = []
        if unpart_win:
            note.append("single-partition window")
        if n_nl:
            # BroadcastNestedLoop against tiny dims is deliberate
            # (range joins); flag only the non-broadcast form
            if "CartesianProduct" in simple or \
                    re.search(r"(?<!Broadcast)NestedLoopJoin", simple):
                note.append("NON-BROADCAST NESTED LOOP")
                hazards.append(f"{name}: cartesian/nested loop")
            else:
                note.append("bnlj(tiny dim)")
        rows.append((name, n_ex, n_bhj, n_smj, n_py, pushed,
                     "; ".join(note)))

    with open(out_md, "w") as f:
        f.write("# PLANS — physical-plan audit (auto-generated by "
                "tools/plan_audit.py)\n\n")
        f.write(f"SF dir: `{sf_dir}`. Columns: exchanges / broadcast "
                "joins / sort-merge joins / python nodes / scans with "
                "pushed filters.\n\n")
        f.write("| query | exch | bhj | smj | py | pushed | notes |\n")
        f.write("|---|---|---|---|---|---|---|\n")
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
        f.write("\nPython nodes appear only in declared Python-boundary "
                "operators (grouped apply, UDAF, sketch builds, media "
                "parse, fuzzy-date fallback); every other plan is "
                "whole-stage-codegen JVM.\n")
    print(f"wrote {out_md}: {len(rows)} queries")
    if hazards:
        print("HAZARDS:")
        for h in hazards:
            print(" -", h)
    else:
        print("no hazards found")


if __name__ == "__main__":
    main()
