"""Code-corpus curation operators — the per-file filters the
published code-data pipelines apply before training on source
(StarCoder/CodeParrot-style line-length / alphanumeric / generated-
file rules), plus Python-aware structural facts via the stdlib
``ast``/``tokenize`` machinery.

``code_quality`` is pure Catalyst expressions (split/transform/
regexp — row-local, codegen, zero Python): line-count and length
stats, alphanumeric fraction, auto-generated markers, long base64 /
hex blob detection (minified or embedded-data files).

``python_source_facts`` is row-local (``util.payload_rows``): per file it
parses with ``ast`` (counts defs/classes, collects module+def+class
docstrings), lexes with ``tokenize`` (comment text), and computes a
STRUCTURAL fingerprint — the token stream with identifiers masked to
``N``, strings to ``S``, numbers to ``0`` — the normalization code
dedup uses to catch renamed-variable copies. Files that do not parse
set ``parse_ok=false`` with null facts (code corpora are full of
broken files; that is data, not an error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meza_spark.util import payload_rows

_AUTOGEN_MARKERS = ("auto-generated", "autogenerated",
                    "do not edit", "generated by")


def code_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-file source-quality columns:

      - ``n_lines``, ``max_line_len``, ``avg_line_len`` (non-newline
        chars / lines — one IEEE division, twin-exact)
      - ``alnum_frac``: alphanumeric chars / all chars
      - ``is_autogen``: a generated-file marker appears (lowercased)
      - ``has_long_b64``: a >=64-char base64 run (embedded blobs)
      - ``has_long_hex``: a >=128-char hex run (minified/packed data)

    Row-local codegen expressions; no shuffle, no Python."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    low = F.lower(t)
    autogen = F.lit(False)
    for m in _AUTOGEN_MARKERS:
        autogen = autogen | low.contains(m)
    return (df
            .withColumn("n_lines", n_lines)
            .withColumn("max_line_len",
                        F.array_max(F.transform(lines, F.length)))
            .withColumn("avg_line_len",
                        (F.length(t) - (n_lines - F.lit(1)))
                        .cast("double") / n_lines.cast("double"))
            .withColumn("alnum_frac",
                        F.length(F.regexp_replace(t, "[^A-Za-z0-9]", ""))
                        .cast("double")
                        / F.greatest(F.length(t), F.lit(1)).cast("double"))
            .withColumn("is_autogen", autogen)
            .withColumn("has_long_b64",
                        t.rlike("[A-Za-z0-9+/=]{64,}"))
            .withColumn("has_long_hex",
                        t.rlike("[0-9a-fA-F]{128,}")))


# ------------------------------------------------------- python facts

MAX_SRC_BYTES = 32 * 1024 * 1024


def python_facts_bytes(src: str) -> dict:
    """One Python source → structural facts (see module docstring)."""
    import ast
    import hashlib
    import io
    import keyword
    import tokenize

    if len(src) > MAX_SRC_BYTES:
        raise ValueError("source exceeds the byte budget")
    facts = {"parse_ok": False, "n_defs": None, "n_classes": None,
             "docstrings": None, "comments": None, "norm_sha": None}
    try:
        tree = ast.parse(src)
    except (SyntaxError, ValueError, RecursionError, MemoryError):
        return facts
    n_defs = n_classes = 0
    docs = []
    mod_doc = ast.get_docstring(tree, clean=False)
    if mod_doc:
        docs.append(mod_doc)
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            n_defs += 1
        elif isinstance(node, ast.ClassDef):
            n_classes += 1
        else:
            continue
        d = ast.get_docstring(node, clean=False)
        if d:
            docs.append(d)
    comments = []
    norm = []
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type == tokenize.COMMENT:
                comments.append(tok.string)
            elif tok.type == tokenize.NAME:
                norm.append(tok.string
                            if keyword.iskeyword(tok.string) else "N")
            elif tok.type == tokenize.STRING:
                norm.append("S")
            elif tok.type == tokenize.NUMBER:
                norm.append("0")
            elif tok.type == tokenize.OP:
                norm.append(tok.string)
            elif tok.type in (tokenize.NEWLINE, tokenize.INDENT,
                              tokenize.DEDENT):
                norm.append({tokenize.NEWLINE: ";",
                             tokenize.INDENT: ">",
                             tokenize.DEDENT: "<"}[tok.type])
    except tokenize.TokenError:
        return facts                     # parsed but untokenizable: rare
    facts.update(
        parse_ok=True, n_defs=n_defs, n_classes=n_classes,
        docstrings="\n\n".join(docs), comments="\n".join(comments),
        norm_sha=hashlib.sha256(
            " ".join(norm).encode("utf-8")).hexdigest())
    return facts


def python_source_facts(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Structural Python facts per row — row-local
    (:func:`meza_spark.util.payload_rows`), zero shuffle. ``norm_sha``
    groups renamed-identifier copies (join it for structural code
    dedup)."""
    keys = ("parse_ok", "n_defs", "n_classes", "docstrings", "comments",
            "norm_sha")

    def rows(_key, src):
        r = python_facts_bytes(src)
        return [tuple(r[k] for k in keys)]

    return payload_rows(df, rows, "parse_ok boolean, n_defs int, "
                        "n_classes int, docstrings string, comments string, "
                        "norm_sha string", text_col, id_col)
