"""Seeded inputs, pipeline steps and output checks for the three
workloads.

Each workload has three parts:

* ``gen_<name>(seed, root)`` writes the input files under ``root`` and
  returns the ground truth the checks need (plain JSON). It runs in the
  launcher, before the measured process starts, and never imports
  Spark or meza_spark.
* ``<Name>Workload.step(i)`` runs one pipeline over the step's input
  through meza_spark's public functions. Every call into a meza_spark
  layer goes through ``tracer.call`` so a traced run can time it and
  count the Spark jobs it launched.
* ``<Name>Workload.check(i)`` compares the step's written output with
  the ground truth. It returns the mismatch messages (none when the
  output is right), the count of values cast to null that were not
  null words, and the count of values cast. Checks read the output
  with pyarrow, outside the step's timer.

``csv_batch`` and ``llm_curation`` are the workloads BENCHMARK.json
lists. ``csv_ingest`` runs the same way when asked for by name (see
NOTES.md for why it is not listed).
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import math
import os
import random
import shutil

# ---------------------------------------------------------------------------
# sizes (described in NOTES.md and BENCHMARK.json; change them together)
# ---------------------------------------------------------------------------

INGEST_FILES = 60           # more than a 20 s run consumes
INGEST_ROWS = 1_000         # rows per file
BATCH_FILES = 2             # fact files sharing one schema
BATCH_ROWS = 4_000          # rows per fact file
BATCH_PRODUCTS = 200        # rows of the dimension file
BATCH_TOP = 3               # orders kept per region by topk_per_group
LLM_BASES = 80              # base documents; clusters add copies
LLM_BUDGET = 2_000          # pack_shards token budget per shard

NULL_WORDS = ["na", "n/a", "none", "null", ".", ""]
REGIONS = ["north", "south", "east", "west", "central", "islands"]
CATEGORIES = ["tools", "garden", "books", "toys", "music"]

_SYL = ["ba", "ke", "lo", "mi", "nu", "ra", "so", "ti", "ve", "zu", "dra",
        "ple", "qua", "ster", "chi", "mon", "val", "ter", "gor", "lin"]


def _word(rng: random.Random, lo: int = 2, hi: int = 3) -> str:
    return "".join(rng.choice(_SYL) for _ in range(rng.randint(lo, hi)))


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


# ---------------------------------------------------------------------------
# messy cell renderers: each returns (text, v) where v is the cell's share
# of the column sum a correct cast gives (ints exact, floats in cents)
# ---------------------------------------------------------------------------

def _cell_int(rng):
    v = rng.randint(-50_000, 900_000)
    style = rng.randrange(4)
    if style == 0:
        s = str(v)
    elif style == 1:
        s = f"{v:,}"
    else:
        sym = "$£€"[rng.randrange(3)]
        s = f"-{sym}{-v:,}" if v < 0 else f"{sym}{v:,}"
    return s, v


def _cell_float(rng):
    cents = rng.randint(-1_000_000, 90_000_000)
    v = cents / 100
    style = rng.randrange(3)
    if style == 0:
        s = f"{v:.2f}"
    elif style == 1:
        s = f"{v:,.2f}"
    else:
        s = f"-${-v:,.2f}" if v < 0 else f"${v:,.2f}"
    return s, cents


_DATE_FMTS = ["%Y-%m-%d", "%m/%d/%Y", "%b %d, %Y", "%B %d, %Y",
              "%d-%b-%Y", "%b. %d, %Y"]


def _cell_date(rng):
    d = dt.date(1990, 1, 1) + dt.timedelta(days=rng.randrange(14_000))
    if rng.random() < 0.02:
        # impossible day: the fuzzy cast repairs it to the month's end
        return f"2/30/{d.year}", 1
    return d.strftime(_DATE_FMTS[rng.randrange(len(_DATE_FMTS))]), 1


def _cell_datetime(rng):
    t = dt.datetime(2000, 1, 1) + dt.timedelta(seconds=rng.randrange(10**9))
    sep = "T" if rng.random() < 0.5 else " "
    return t.strftime(f"%Y-%m-%d{sep}%H:%M:%S"), 1


_BOOL_WORDS = ["yes", "no", "Y", "N", "true", "False", "T", "f"]


def _cell_bool(rng):
    return rng.choice(_BOOL_WORDS), 1


def _cell_text(rng):
    return f"{_word(rng)} {_word(rng)}", 1


_CELLS = {"int": _cell_int, "float": _cell_float, "bool": _cell_bool,
          "date": _cell_date, "datetime": _cell_datetime, "text": _cell_text}


def _messy_column(rng, kind: str, n: int, null_share: float):
    """Render ``n`` cells of one column; return (cells, nulls, exact sum
    of the cast values — ints exact, floats in cents). A text cast keeps
    null words as text, so only its empty cells become nulls."""
    cells, nulls, total = [], 0, 0
    make = _CELLS[kind]
    for _ in range(n):
        if rng.random() < null_share:
            word = rng.choice(NULL_WORDS)
            cells.append(word)
            nulls += kind != "text" or word == ""
            continue
        s, v = make(rng)
        cells.append(s)
        total += v
    return cells, nulls, total


# ---------------------------------------------------------------------------
# csv_ingest: a folder of small messy exports, each with its own schema
# ---------------------------------------------------------------------------

def gen_csv_ingest(seed: int, root: str) -> dict:
    rng = random.Random(f"csv_ingest:{seed}")
    kinds = list(_CELLS)
    files = []
    for i in range(INGEST_FILES):
        ncols = rng.randint(5, 9)
        mix = [rng.choice(kinds) for _ in range(ncols)]
        # names never repeat across files, so no cast tree is reused
        names = [f"{_word(rng)}_{i}_{j}" for j in range(ncols)]
        cols, truth_cols = [], []
        for name, kind in zip(names, mix):
            cells, nulls, total = _messy_column(rng, kind, INGEST_ROWS, 0.04)
            cols.append(cells)
            truth_cols.append({"id": name, "type": kind, "nulls": nulls,
                               "sum": total})
        path = os.path.join(root, f"export_{i:04d}.csv")
        _write_csv(path, names, [list(r) for r in zip(*cols)])
        files.append({"path": os.path.basename(path), "rows": INGEST_ROWS,
                      "columns": truth_cols})
    return {"files": files}


# ---------------------------------------------------------------------------
# csv_batch: a few large fact files with one schema, plus a dimension
# ---------------------------------------------------------------------------

def gen_csv_batch(seed: int, root: str) -> dict:
    rng = random.Random(f"csv_batch:{seed}")
    os.makedirs(os.path.join(root, "facts"))
    cat_of = {p: rng.choice(CATEGORIES) for p in range(1, BATCH_PRODUCTS + 1)}
    _write_csv(os.path.join(root, "products.csv"),
               ["product_id", "category", "list_price"],
               [[str(p), c, f"${rng.randint(100, 99_999) / 100:,.2f}"]
                for p, c in cat_of.items()])
    header = ["order_id", "customer", "product_id", "region", "amount",
              "qty", "order_date", "paid"]
    group: dict[str, list[int]] = {r: [0, 0] for r in REGIONS}
    pivot: dict[str, dict[str, int]] = {r: {c: 0 for c in CATEGORIES}
                                        for r in REGIONS}
    best: dict[str, list[tuple[int, int]]] = {r: [] for r in REGIONS}
    order_id = 0
    n_rows = 0
    for f in range(BATCH_FILES):
        rows = []
        while len(rows) < BATCH_ROWS:
            order_id += 1
            prod = rng.randint(1, BATCH_PRODUCTS)
            region = rng.choice(REGIONS)
            if rng.random() < 0.03:
                amount, cents = rng.choice(NULL_WORDS), None
            else:
                amount, cents = _cell_float(rng)
            qty, _ = _cell_int(rng)
            row = [str(order_id), _word(rng), str(prod), region, amount, qty,
                   _cell_date(rng)[0], _cell_bool(rng)[0]]
            rows.append(row)
            # planted exact duplicate rows: process.unique must fold them
            if rng.random() < 0.02:
                rows.append(list(row))
            group[region][1] += 1
            if cents is not None:
                group[region][0] += cents
                pivot[region][cat_of[prod]] += cents
                best[region].append((cents, order_id))
        rng.shuffle(rows)
        n_rows += len(rows)
        _write_csv(os.path.join(root, "facts", f"orders_{f}.csv"), header,
                   rows)
    return {"rows": n_rows, "orders": order_id,
            "top": {r: [o for _, o in sorted(b, reverse=True)[:BATCH_TOP]]
                    for r, b in best.items()},
            "group": {r: {"total_cents": g[0], "orders": g[1]}
                      for r, g in group.items()},
            "pivot_cents": pivot}


# ---------------------------------------------------------------------------
# llm_curation: a corpus with planted exact and near-duplicate clusters
# ---------------------------------------------------------------------------

_STOP = ["the", "and", "of", "to", "is"]


def _document(rng, vocab, n_words: int) -> list[str]:
    return [rng.choice(_STOP) if rng.random() < 0.25 else rng.choice(vocab)
            for _ in range(n_words)]


def gen_llm_curation(seed: int, root: str) -> dict:
    """Families of documents, each planted as one of: singleton (70%);
    exact cluster of 2-3 identical copies (15%); near cluster of the
    base plus 1-2 copies with one word replaced (15%); junk, too short
    for the Gopher rules (1 per 20 bases). Family kinds, copy counts
    and document lengths follow the base index, so every seed has the
    same number of documents and tokens; only the words change. Doc
    ids are shuffled so the kept member of a cluster (its min id) is
    not the generated base."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"llm_curation:{seed}")
    vocab = sorted({_word(rng, 2, 4) for _ in range(4000)})
    families = []  # (kind, [texts])
    for b in range(LLM_BASES):
        base = _document(rng, vocab, 70 + (b * 37) % 71)
        if b % 20 < 3:
            families.append(("exact", [" ".join(base)] * (2 + b % 2)))
        elif b % 20 < 6:
            texts = [" ".join(base)]
            for _ in range(1 + b % 2):
                edit = list(base)
                edit[rng.randrange(len(edit))] = rng.choice(vocab) + "x"
                texts.append(" ".join(edit))
            families.append(("near", texts))
        else:
            families.append(("single", [" ".join(base)]))
    for j in range(LLM_BASES // 20):
        families.append(("junk", [" ".join(_document(rng, vocab, 5 + j))]))
    n_docs = sum(len(t) for _, t in families)
    ids = list(range(n_docs))
    rng.shuffle(ids)
    doc_ids, texts, truth = [], [], []
    it = iter(ids)
    for kind, fam_texts in families:
        fam_ids = [next(it) for _ in fam_texts]
        doc_ids += fam_ids
        texts += fam_texts
        truth.append({"kind": kind, "ids": fam_ids})
    table = pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, os.path.join(root, "corpus.parquet"))
    return {"docs": n_docs, "families": truth}


GENERATORS = {"csv_ingest": gen_csv_ingest, "csv_batch": gen_csv_batch,
              "llm_curation": gen_llm_curation}


# ---------------------------------------------------------------------------
# output readers used by the checks (no Spark: the checks must not load
# the layers they judge)
# ---------------------------------------------------------------------------

def _read_parquet(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def _close(got: float, want_cents: int) -> bool:
    return abs(got * 100 - want_cents) <= max(1.0, abs(want_cents) * 1e-9)


# ---------------------------------------------------------------------------
# steps
# ---------------------------------------------------------------------------

class _Base:
    def __init__(self, spark, tracer, inputs: str, truth: dict, out: str):
        self.spark = spark
        self.t = tracer
        self.inputs = inputs
        self.truth = truth
        self.out = out

    def out_dir(self, i: int) -> str:
        return os.path.join(self.out, f"step_{i:04d}")

    def clean(self, i: int) -> None:
        shutil.rmtree(self.out_dir(i), ignore_errors=True)


class CsvIngestWorkload(_Base):
    """One file per step: read_csv → detect_types → type_cast →
    write(parquet)."""

    def steps_available(self) -> int:
        return len(self.truth["files"])

    def rows(self, i: int) -> int:
        return self.truth["files"][i]["rows"]

    def step(self, i: int) -> None:
        from meza_spark import convert, io, typetools

        t = self.t
        f = self.truth["files"][i]
        df = t.call("io.read_csv", io.read_csv, self.spark,
                    os.path.join(self.inputs, f["path"]))
        _, result = t.call("typetools.detect_types",
                           typetools.detect_types, df)
        self.detected = {c["id"]: c["type"] for c in result["types"]}
        typed = t.call("convert.type_cast", convert.type_cast, df,
                       result["types"])
        t.call("io.write", io.write, typed,
               os.path.join(self.out_dir(i), "typed.parquet"), sink=True)

    def check(self, i: int) -> tuple[list[str], int, int]:
        f = self.truth["files"][i]
        errs = []
        pdf = _read_parquet(os.path.join(self.out_dir(i), "typed.parquet"))
        if len(pdf) != f["rows"]:
            errs.append(f"{f['path']}: {len(pdf)} rows, want {f['rows']}")
        extra_nulls = 0
        for c in f["columns"]:
            name = c["id"]
            if self.detected.get(name) != c["type"]:
                errs.append(f"{f['path']}:{name}: detected "
                            f"{self.detected.get(name)}, want {c['type']}")
                continue
            col = pdf[name]
            nulls = int(col.isna().sum())
            extra_nulls += max(0, nulls - c["nulls"])
            if nulls != c["nulls"]:
                errs.append(f"{f['path']}:{name}: {nulls} nulls, "
                            f"want {c['nulls']}")
            if c["type"] == "int" and int(col.sum()) != c["sum"]:
                errs.append(f"{f['path']}:{name}: sum {int(col.sum())}, "
                            f"want {c['sum']}")
            if c["type"] == "float" and not _close(float(col.sum()), c["sum"]):
                errs.append(f"{f['path']}:{name}: sum {col.sum()}, "
                            f"want {c['sum'] / 100}")
        return errs, extra_nulls, f["rows"] * len(f["columns"])


class CsvBatchWorkload(_Base):
    """Every step re-runs the whole batch: read_csv → detect_types →
    type_cast → unique → join → group → pivot → topk_per_group, then
    records2csv of the typed table and one write of a report holding
    the aggregates."""

    def steps_available(self) -> int:
        return 1 << 30

    def rows(self, i: int) -> int:
        return self.truth["rows"]

    def _typed(self, path: str):
        from meza_spark import convert, io, typetools

        t = self.t
        df = t.call("io.read_csv", io.read_csv, self.spark, path)
        _, result = t.call("typetools.detect_types",
                           typetools.detect_types, df)
        return t.call("convert.type_cast", convert.type_cast, df,
                      result["types"])

    def step(self, i: int) -> None:
        from meza_spark import io, process

        t = self.t
        out = self.out_dir(i)
        facts = self._typed(os.path.join(self.inputs, "facts"))
        dim = self._typed(os.path.join(self.inputs, "products.csv"))
        orders = t.call("process.unique", process.unique, facts,
                        ["order_id"])
        joined = t.call("process.join", process.join, orders, dim,
                        on="product_id")
        grouped = t.call("process.group", process.group, joined, "region",
                         aggs={"total": ("amount", "sum"),
                               "orders": ("order_id", "count")})
        pivoted = t.call("process.pivot", process.pivot, joined, ["region"],
                         "category", "amount", op="sum", values=CATEGORIES)
        top = t.call("process.topk_per_group", process.topk_per_group,
                     joined, ["region"], ["amount", "order_id"], BATCH_TOP)
        summary = t.call("process.join", process.join, grouped, pivoted,
                         on="region")
        # one report: each region's top orders with its totals
        report = t.call("process.join", process.join, top, summary,
                        on="region")
        t.call("io.records2csv", io.records2csv, facts,
               os.path.join(out, "typed_csv"), sink=True)
        t.call("io.write", io.write, report,
               os.path.join(out, "report.parquet"), sink=True)

    def check(self, i: int) -> tuple[list[str], int, int]:
        out = self.out_dir(i)
        errs = []
        report = _read_parquet(os.path.join(out, "report.parquet"))
        if sorted(set(report["region"])) != sorted(self.truth["group"]):
            errs.append(f"report regions {sorted(set(report['region']))}")
        for region, rows in report.groupby("region"):
            top = rows.sort_values(["amount", "order_id"],
                                   ascending=False)["order_id"].tolist()
            if top != self.truth["top"][region]:
                errs.append(f"top {region}: {top}, "
                            f"want {self.truth['top'][region]}")
            r = rows.iloc[0]
            want = self.truth["group"][region]
            if r["orders"] != want["orders"] \
                    or not _close(r["total"], want["total_cents"]):
                errs.append(f"group {region}: ({r['total']}, "
                            f"{r['orders']}), want {want}")
            pivot = self.truth["pivot_cents"][region]
            for cat in CATEGORIES:
                v = 0.0 if math.isnan(r[cat]) else r[cat]
                if not _close(v, pivot[cat]):
                    errs.append(f"pivot {region}/{cat}: {v}, "
                                f"want {pivot[cat] / 100}")
        csv_rows = 0
        csv_dir = os.path.join(out, "typed_csv")
        for name in os.listdir(csv_dir):
            if name.endswith(".csv"):
                with open(os.path.join(csv_dir, name), "rb") as fh:
                    csv_rows += max(0, sum(1 for _ in fh) - 1)
        if csv_rows != self.truth["rows"]:
            errs.append(f"records2csv: {csv_rows} rows, "
                        f"want {self.truth['rows']}")
        return errs, 0, 0


class LlmCurationWorkload(_Base):
    """Every step curates the whole corpus: quality_score →
    gopher_filter → exact_dedup → near_dedup(minhash) → pack_shards →
    write."""

    def steps_available(self) -> int:
        return 1 << 30

    def rows(self, i: int) -> int:
        return self.truth["docs"]

    def step(self, i: int) -> None:
        from pyspark.sql import functions as F

        from meza_spark import io
        from meza_spark.llm import cluster, dedup, sampling, text

        t = self.t
        docs = self.spark.read.parquet(
            os.path.join(self.inputs, "corpus.parquet"))
        scored = t.call("llm.text.quality_score", text.quality_score, docs)
        gated = t.call("llm.text.gopher_filter", text.gopher_filter, scored)
        kept = gated.where(F.col("gopher_keep")).select(
            "doc_id", "text", "n_tokens", "quality")
        exact = t.call("llm.dedup.exact_dedup", dedup.exact_dedup, kept)
        near = t.call("llm.cluster.near_dedup", cluster.near_dedup, exact,
                      method="minhash")
        packed = t.call("llm.sampling.pack_shards", sampling.pack_shards,
                        near, "n_tokens", LLM_BUDGET, "doc_id")
        t.call("io.write", io.write,
               packed.select("doc_id", "shard_id", "n_tokens", "quality"),
               os.path.join(self.out_dir(i), "curated.parquet"), sink=True)

    def check(self, i: int) -> tuple[list[str], int, int]:
        pdf = _read_parquet(os.path.join(self.out_dir(i), "curated.parquet"))
        kept = set(pdf["doc_id"].tolist())
        errs = []
        collapsed = planted = 0
        for fam in self.truth["families"]:
            ids = fam["ids"]
            if fam["kind"] == "junk":
                if ids[0] in kept:
                    errs.append(f"junk doc {ids[0]} kept")
                continue
            if min(ids) not in kept:
                errs.append(f"{fam['kind']} family {min(ids)} dropped")
            extra = [d for d in ids if d != min(ids) and d in kept]
            if fam["kind"] == "exact" and extra:
                errs.append(f"exact duplicates {extra} kept")
            if fam["kind"] == "near":
                planted += 1
                collapsed += not extra
        for shard, g in pdf.sort_values("doc_id").groupby("shard_id"):
            # a shard starts below its budget line: all but its last
            # document fit inside one budget
            head = int(g["n_tokens"].sum() - g["n_tokens"].iloc[-1])
            if head >= LLM_BUDGET:
                errs.append(f"shard {shard}: {head} tokens before its "
                            f"last document, budget {LLM_BUDGET}")
        self.recall = collapsed / planted if planted else 1.0
        return errs, 0, 0

    def pair_precision(self) -> float:
        """Planted near/exact pairs among the pairs minhash_lsh_pairs
        returns on the exact-deduplicated corpus, over all returned
        pairs. Runs once, after the measured steps."""
        from meza_spark.llm import dedup

        docs = self.spark.read.parquet(
            os.path.join(self.inputs, "corpus.parquet"))
        pairs = dedup.minhash_lsh_pairs(dedup.exact_dedup(docs)).collect()
        family = {}
        for n, fam in enumerate(self.truth["families"]):
            for d in fam["ids"]:
                family[d] = n
        if not pairs:
            return 0.0
        good = sum(family[p["id_a"]] == family[p["id_b"]] for p in pairs)
        return good / len(pairs)


WORKLOADS = {"csv_ingest": CsvIngestWorkload, "csv_batch": CsvBatchWorkload,
             "llm_curation": LlmCurationWorkload}


def load_truth(root: str) -> dict:
    with open(os.path.join(root, "truth.json"), encoding="utf-8") as f:
        return json.load(f)
