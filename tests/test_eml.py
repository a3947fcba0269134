"""RFC 5322 / MIME email extraction (llm/eml.py) + doctext routing."""

import pytest

from meza_spark.llm.doctext import extract_document_bytes
from meza_spark.llm.eml import (MAX_EML_BYTES, encode_eml, encode_mbox,
                                eml_text, extract_eml_bytes, split_mbox)


def test_simple_roundtrip():
    r = extract_eml_bytes(encode_eml(["hello body"], subject="S"))
    assert r["subject"] == "S"
    assert r["text"] == "hello body"
    assert r["n_parts"] == 1 and r["n_attachments"] == 0
    assert r["sender"] == "a@example.com"
    assert r["message_id"] == "<fixture@example.com>"


@pytest.mark.parametrize("cte", ["7bit", "base64", "quoted-printable"])
def test_transfer_encodings(cte):
    body = "café — body with unicode\nand a second line"
    r = extract_eml_bytes(encode_eml([body], subject="S", cte=cte))
    assert r["text"] == body


def test_rfc2047_subject_decodes():
    r = extract_eml_bytes(encode_eml(["x"], subject="Ünicode — Sübject"))
    assert r["subject"] == "Ünicode — Sübject"


def test_alternative_plain_wins():
    b = encode_eml(["the plain text"], subject="S",
                   html_alt="<html><body><p>html loses</p></body></html>")
    r = extract_eml_bytes(b)
    assert r["text"] == "the plain text"


def test_html_only_body_extracts():
    raw = (b"Subject: H\r\nFrom: a@example.com\r\n"
           b"Message-ID: <x@y>\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: text/html; charset=utf-8\r\n\r\n"
           b"<html><body><p>only html body text here</p>"
           b"<script>drop()</script></body></html>\r\n")
    r = extract_eml_bytes(raw)
    assert "only html body text here" in r["text"]
    assert "drop()" not in r["text"]


def test_inline_parts_join_attachments_counted():
    b = encode_eml(["part one", "part two"], subject="S",
                   attachments=[("data.bin", b"\x00\x01\x02")])
    r = extract_eml_bytes(b)
    assert r["text"] == "part one\n\npart two"
    assert r["n_attachments"] == 1
    assert r["attachment_names"] == ["data.bin"]
    assert "\x00" not in r["text"]


def test_unknown_charset_replaces_not_raises():
    raw = (b"Subject: C\r\nMessage-ID: <x@y>\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: text/plain; charset=not-a-charset\r\n\r\n"
           b"body bytes\r\n")
    assert extract_eml_bytes(raw)["text"] == "body bytes"


def test_no_headers_raises():
    with pytest.raises(ValueError, match="not an email"):
        extract_eml_bytes(b"just some bytes\nwith lines\n")


def test_empty_and_budget():
    with pytest.raises(ValueError, match="empty"):
        extract_eml_bytes(b"")
    big = b"Subject: S\r\n\r\n" + b"x" * (MAX_EML_BYTES + 1)
    with pytest.raises(ValueError, match="byte budget"):
        extract_eml_bytes(big)


FUZZ_MSG = encode_eml(["fuzz body"], subject="Fuzz",
                      attachments=[("a.bin", b"\x00\x01\x02")])

# address-header fragments the stdlib parser meets with IndexError
HOSTILE_HEADERS = [b"From: a@", b"To: <", b'From: "']


def _succeeds_or_value_error(payload):
    try:
        extract_eml_bytes(payload)
    except ValueError:
        pass


@pytest.mark.parametrize("payload", HOSTILE_HEADERS)
def test_hostile_address_headers_never_crash(payload):
    _succeeds_or_value_error(payload)


def test_truncation_fuzz_never_crashes():
    for cut in range(len(FUZZ_MSG)):
        _succeeds_or_value_error(FUZZ_MSG[:cut])


def test_mutation_fuzz_never_crashes():
    # every byte flipped, and every byte turned into a line break
    # (which cuts a header mid-address, as in "From: a@\nxample.com")
    for pos in range(len(FUZZ_MSG)):
        for byte in (FUZZ_MSG[pos] ^ 0xFF, 0x0A):
            mutated = bytearray(FUZZ_MSG)
            mutated[pos] = byte
            _succeeds_or_value_error(bytes(mutated))


def test_part_count_bomb_gated():
    parts = b"".join(
        b"--B\r\nContent-Type: text/plain\r\n\r\nx\r\n"
        for _ in range(1100))
    raw = (b"Subject: bomb\r\nMessage-ID: <x@y>\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: multipart/mixed; boundary=B\r\n\r\n"
           + parts + b"--B--\r\n")
    with pytest.raises(ValueError, match="part count"):
        extract_eml_bytes(raw)


# ----------------------------------------------------------------- mbox

def test_mbox_split_and_unstuffing():
    m1 = encode_eml(["first\nFrom the start it was"], subject="A")
    m2 = encode_eml(["second"], subject="B")
    blobs = split_mbox(encode_mbox([m1, m2]))
    assert len(blobs) == 2
    texts = [extract_eml_bytes(x)["text"] for x in blobs]
    assert texts == ["first\nFrom the start it was", "second"]


def test_mbox_already_quoted_from_survives():
    # a body line that ALREADY reads '>From ' must round-trip intact
    # (mboxo adds one '>' on write, removes one on read)
    m = encode_eml(["quoted:\n>From before\nFrom now on"], subject="Q")
    texts = [extract_eml_bytes(x)["text"]
             for x in split_mbox(encode_mbox([m]))]
    assert texts == ["quoted:\n>From before\nFrom now on"]


def test_mbox_requires_envelope():
    with pytest.raises(ValueError, match="missing 'From '"):
        split_mbox(b"Subject: S\r\n\r\nx")


# -------------------------------------------------------- doctext route

def test_doctext_routes_eml():
    r = extract_document_bytes(encode_eml(["routed body"], subject="T"))
    assert (r["format"], r["text"], r["title"]) == ("eml", "routed body", "T")


def test_doctext_routes_mbox():
    mb = encode_mbox([encode_eml(["m one"], subject="A"),
                      encode_eml(["m two"], subject="B")])
    r = extract_document_bytes(mb)
    assert (r["format"], r["text"], r["n_parts"]) == ("mbox", "m one\n\nm two", 2)


@pytest.mark.parametrize("payload", [
    b"Subject: my essay\n\nJust prose with a colon line.",
    b"From here on, things changed.\nIt was 1999.",
    b"key: value\nother: thing\nmore: stuff\n\nplain config",
    b"Note: remember\nthe meeting tomorrow",
])
def test_doctext_prose_never_eaten_as_email(payload):
    assert extract_document_bytes(payload)["format"] == "txt"


def test_doctext_header_block_with_junk_line_is_txt():
    # a junk line INSIDE the header block disqualifies the sniff
    payload = (b"Message-ID: <x@y>\nReceived: from a\n"
               b"this line is not a header\nSubject: S\n\nbody")
    assert extract_document_bytes(payload)["format"] == "txt"


def test_doctext_gzip_wrapped_eml_redispatches():
    import gzip
    import io

    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(encode_eml(["gz body"], subject="Z"))
    r = extract_document_bytes(buf.getvalue())
    assert (r["format"], r["text"]) == ("eml", "gz body")


def test_doctext_crlf_eml_detected():
    raw = (b"Received: from relay\r\nMessage-ID: <x@y>\r\n"
           b"Subject: crlf\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: text/plain\r\n\r\nbody here\r\n")
    r = extract_document_bytes(raw)
    assert (r["format"], r["text"]) == ("eml", "body here")


# ---------------------------------------------------------- spark layer

def test_eml_text_operator(spark):
    good = encode_eml(["spark body"], subject="OK")
    rows = [(1, bytearray(good)), (2, bytearray(b"not an email at all")),
            (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in eml_text(df).collect()}
    assert got[1]["text"] == "spark body" and got[1]["error"] is None
    assert got[2]["text"] is None and "not an email" in got[2]["error"]
    assert 3 not in got  # null payloads dropped


def test_eml_text_plan_has_no_exchange(spark):
    df = spark.createDataFrame([(1, bytearray(b"x"))],
                               "media_id long, payload binary")
    plan = eml_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
