"""The row-local extraction boundary (``meza_spark.util.extract_rows``):
every payload operator turns a bad payload into one ``error`` row and
never fails the job, and none of them writes its own ``mapInPandas``."""

import ast
import os

import pytest

from meza_spark.io.archive import encode_zip, expand_archive, \
    expand_archive_bytes
from meza_spark.llm.crawl import encode_sitemap, parse_sitemap_bytes, \
    sitemap_urls
from meza_spark.llm.doctext import document_text, extract_document_bytes
from meza_spark.llm.eml import encode_eml, eml_text, extract_eml_bytes
from meza_spark.llm.office import encode_docx, extract_office_bytes, \
    office_text
from meza_spark.llm.pdf import encode_pdf, extract_pdf_bytes, pdf_text
from meza_spark.llm.rtf import encode_rtf, extract_rtf_bytes, rtf_text
from meza_spark.llm.subtitles import encode_srt, extract_subtitles_bytes, \
    subtitle_cues
from meza_spark.util import extract_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T = "the quick brown fox"

# operator, a valid payload from its own encoder, the pure extractor
# as ``payload -> number of rows`` (raises where the operator must give
# an error row), and the operator's public output schema
OPERATORS = {
    "pdf_text": (
        pdf_text, encode_pdf([T]), lambda b: extract_pdf_bytes(b) and 1,
        "media_id:bigint,version:string,n_pages:int,title:string,"
        "producer:string,text:string,n_chars:int,error:string"),
    "rtf_text": (
        rtf_text, encode_rtf([T]), lambda b: extract_rtf_bytes(b) and 1,
        "media_id:bigint,n_groups:int,title:string,text:string,"
        "n_chars:int,error:string"),
    "eml_text": (
        eml_text, encode_eml([T], subject="S"),
        lambda b: extract_eml_bytes(b) and 1,
        "media_id:bigint,subject:string,sender:string,n_parts:int,"
        "n_attachments:int,text:string,n_chars:int,error:string"),
    "office_text": (
        office_text, encode_docx([T]),
        lambda b: extract_office_bytes(b) and 1,
        "media_id:bigint,format:string,n_parts:int,title:string,"
        "text:string,n_chars:int,error:string"),
    "document_text": (
        document_text, encode_eml([T], subject="S"),
        lambda b: extract_document_bytes(b) and 1,
        "media_id:bigint,format:string,n_parts:int,title:string,"
        "text:string,n_chars:int,error:string"),
    "subtitle_cues": (
        subtitle_cues, encode_srt([(0, 1000, "one"), (1000, 2500, T)]),
        lambda b: extract_subtitles_bytes(b)["n_parts"],
        "media_id:bigint,format:string,cue_idx:int,start_ms:bigint,"
        "end_ms:bigint,cue_text:string,error:string"),
    "sitemap_urls": (
        sitemap_urls, encode_sitemap([("http://x/a", "2024-01-01", None,
                                       None), ("http://x/b", None,
                                               "daily", "0.5")]),
        lambda b: len(parse_sitemap_bytes(b)["entries"]),
        "media_id:bigint,kind:string,url_idx:int,loc:string,"
        "lastmod:string,changefreq:string,priority:string,error:string"),
    "expand_archive": (
        expand_archive, encode_zip([("a.txt", b"alpha"), ("b.txt", b"")]),
        lambda b: len(expand_archive_bytes(b)["members"]),
        "media_id:bigint,kind:string,member_idx:int,member_name:string,"
        "member_size:bigint,member_bytes:binary,error:string"),
}

# address-header fragments the stdlib email parser meets with IndexError
HOSTILE_HEADERS = [b"From: a@", b"To: <", b'From: "']


def _hostile(good: bytes) -> list:
    """``good``, four truncations, four byte flips, the email header
    fragments and the empty payload."""
    n = len(good)
    cuts = [good[:n * k // 5] for k in range(1, 5)]
    flips = []
    for k in range(1, 5):
        b = bytearray(good)
        b[n * k // 5] ^= 0xFF
        flips.append(bytes(b))
    return [good, *cuts, *flips, *HOSTILE_HEADERS, b""]


def _expected_rows(pure, payload):
    try:
        return pure(payload)
    except Exception:
        return None              # rejected: exactly one error row


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_hostile_payloads_give_error_rows(spark, name):
    op, good, pure, schema = OPERATORS[name]
    payloads = _hostile(good)
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    rows.append((len(payloads), None))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = op(df)
    assert out.schema.simpleString() == f"struct<{schema}>"
    assert all(f.nullable for f in out.schema)
    by_id = {}
    for r in out.collect():
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(payloads) not in by_id                 # null payload dropped
    assert _expected_rows(pure, good) > 0
    for i, payload in enumerate(payloads):
        got, want = by_id.get(i, []), _expected_rows(pure, payload)
        if want is None:
            assert len(got) == 1, (i, payload[:40])
            assert got[0]["error"], (i, payload[:40])
            assert all(v is None for k, v in got[0].asDict().items()
                       if k not in ("media_id", "error"))
        else:
            assert len(got) == want, (i, payload[:40])
            assert all(r["error"] is None for r in got), (i, payload[:40])


def test_extract_rows_error_rule(spark):
    def fn(b):
        if b == b"value":
            raise ValueError("bad " + "x" * 300)
        if b == b"midway":
            return [(k, 1 // (2 - k)) for k in range(3)]   # fails at k=2
        return [(len(b), 0), (len(b), 1)]

    df = spark.createDataFrame(
        [(1, bytearray(b"ok")), (2, bytearray(b"value")),
         (3, bytearray(b"midway")), (4, None)],
        "doc long, blob binary")
    out = extract_rows(df, fn, "a int, b int", "blob", "doc")
    assert out.columns == ["doc", "a", "b", "error"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, 2, 0, None), (1, 2, 1, None),
        (2, None, None, "bad " + "x" * 196),
        (3, None, None, "ZeroDivisionError: integer division or "
                        "modulo by zero")]


def _map_in_pandas_calls(path):
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInPandas"]


def test_payload_operators_build_through_extract_rows():
    modules = [f"meza_spark/llm/{m}.py" for m in (
        "pdf", "rtf", "eml", "office", "doctext", "subtitles", "crawl")]
    modules.append("meza_spark/io/archive.py")
    stray = [f"{m}:{line}" for m in modules
             for line in _map_in_pandas_calls(os.path.join(ROOT, m))]
    assert not stray, stray
