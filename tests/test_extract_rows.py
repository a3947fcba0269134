"""The row-local payload boundary (``meza_spark.util.payload_rows``) and
the extraction layer over it (``extract_rows``): every extraction
operator turns a bad payload into one ``error`` row and never fails the
job, and no payload operator writes its own ``mapInPandas``."""

import ast
import os

import pytest

from meza_spark.io.archive import encode_zip, expand_archive, \
    expand_archive_bytes
from meza_spark.llm.code import python_source_facts
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
from meza_spark.llm.multimodal import decode_audio, decode_image, \
    decode_video, frame_sample, image_features, parse_media_headers, \
    resize_image
from meza_spark.util import extract_rows, payload_rows

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
        "pdf", "rtf", "eml", "office", "doctext", "subtitles", "crawl",
        "multimodal", "code")]
    modules.append("meza_spark/io/archive.py")
    stray = [f"{m}:{line}" for m in modules
             for line in _map_in_pandas_calls(os.path.join(ROOT, m))]
    assert not stray, stray


# the operators built directly on ``payload_rows``: how to build each
# over a ``media_id long, payload binary`` frame ``df`` or a
# ``doc_id long, text string`` frame ``t``, and its output schema
PAYLOAD_ROWS_OPERATORS = {
    "decode_image": (
        lambda df, t: decode_image(df),
        "media_id:bigint,width:int,height:int,channels:int,"
        "mean_pixel:double,crc:bigint"),
    "decode_audio": (
        lambda df, t: decode_audio(df),
        "media_id:bigint,sample_rate:int,channels:int,n_samples:bigint,"
        "duration_ms:bigint,mean_amp:double,rms:double,peak:double"),
    "decode_video": (
        lambda df, t: decode_video(df),
        "media_id:bigint,frame_idx:int,ts_ms:bigint,width:int,height:int,"
        "mean_pixel:double"),
    "image_features": (
        lambda df, t: image_features(df),
        "media_id:bigint,features:array<float>"),
    "frame_sample": (
        lambda df, t: frame_sample(df),
        "media_id:bigint,frame_idx:int,ts_ms:bigint,frame:binary"),
    "resize_image": (
        lambda df, t: resize_image(df, 4, 4),
        "media_id:bigint,payload:binary,width:int,height:int"),
    "parse_media_headers": (
        lambda df, t: parse_media_headers(df),
        "media_id:bigint,format:string,width:int,height:int,channels:int,"
        "sample_rate:int,duration_ms:bigint,orientation:int"),
    "python_source_facts": (
        lambda df, t: python_source_facts(t),
        "doc_id:bigint,parse_ok:boolean,n_defs:int,n_classes:int,"
        "docstrings:string,comments:string,norm_sha:string"),
}


@pytest.mark.parametrize("name", sorted(PAYLOAD_ROWS_OPERATORS))
def test_payload_rows_operator_schemas(spark, name):
    build, schema = PAYLOAD_ROWS_OPERATORS[name]
    df = spark.createDataFrame([(1, bytearray(b"x"))],
                               "media_id long, payload binary")
    t = spark.createDataFrame([(1, "x = 1\n")], "doc_id long, text string")
    out = build(df, t)
    assert out.schema.simpleString() == f"struct<{schema}>"
    assert all(f.nullable for f in out.schema)


def test_payload_rows_hands_fn_the_value_as_arrow_delivers_it(spark):
    def fn(key, value):
        return [(type(value).__name__, key * 10)] * (key % 2)

    df = spark.createDataFrame(
        [(1, bytearray(b"a"), "a"), (2, bytearray(b"b"), "b"),
         (3, None, None)], "k long, blob binary, text string")
    got = sorted(tuple(r) for r in payload_rows(
        df, fn, "kind string, x bigint", "blob", "k").collect())
    assert got == [(1, "bytes", 10)]
    got = sorted(tuple(r) for r in payload_rows(
        df, fn, "kind string, x bigint", "text", "k").collect())
    assert got == [(1, "str", 10)]
    with pytest.raises(Exception, match="ZeroDivisionError"):
        payload_rows(df, lambda k, v: [(1 // 0, 0)], "a int, b int",
                     "blob", "k").collect()
