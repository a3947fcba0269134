"""Unified document-to-text dispatch — ONE operator a crawl/curation
pipeline points at a mixed binary column, routing each payload to the
right extraction tier by magic bytes (never by extension):

=============  ====================================================
magic          route
=============  ====================================================
``%PDF-``      :mod:`meza_spark.llm.pdf` (xref/filters/charmaps)
``{\\rtf``     :mod:`meza_spark.llm.rtf` (group-stack machine)
``PK\\x03\\x04``  :mod:`meza_spark.llm.office` (docx/pptx/odt/epub)
``\\x1f\\x8b``   gzip: budget-gated gunzip, then ONE re-dispatch
               (covers .txt.gz / .html.gz / .rtf.gz crawl payloads)
HTML-ish       :mod:`meza_spark.llm.htmltext` (boilerplate-removing
               jusText-lite; fires on <html / <!doctype html)
``{``+keys     :mod:`meza_spark.llm.notebook` — JSON payloads
               carrying ``"cells"`` + ``"nbformat"`` parse as
               Jupyter notebooks (markdown cells stripped, code
               verbatim, outputs dropped); JSON-but-not-a-notebook
               falls through to 'txt'
``WEBVTT`` /   :mod:`meza_spark.llm.subtitles` — VTT by magic, SRT
SRT shape      by its counter+timestamp opening shape; cue text
               flattens, cue-level rows via ``subtitle_cues``
RFC 5322       :mod:`meza_spark.llm.eml` — fires only on a
               CONSERVATIVE header-block heuristic (first line is a
               header, ≥3 header lines, ≥1 email-definitive name
               like Message-ID/Received/MIME-Version); ``From ``
               envelopes route the whole payload as an mbox. False
               negatives fall through to 'txt' by design — prose
               with a colon must never be eaten as email.
UTF-8 text     passed through verbatim (format 'txt')
=============  ====================================================

Anything else — image/audio containers, undecodable bytes — yields an
``error`` row (route media through decode_image/decode_audio
instead). Row-local (``util.extract_rows``), zero shuffle: the whole content
tier keeps the scale shape where 100 TB is executor-count-bound.
"""

from __future__ import annotations

import gzip
import io
import re
import zlib

MAX_GZIP_IN = 256 * 1024 * 1024
MAX_GZIP_OUT = 512 * 1024 * 1024

_HTML_RE = re.compile(
    rb"^\s*(?:<\?xml[^>]{0,120}\?>\s*)?"     # XHTML prolog
    rb"(?:<!doctype\s+html|<html[\s>])", re.I)

# SRT shape: optional BOM, cue counter line, then an HH:MM:SS,mmm
# timestamp arrow (the WEBVTT magic handles the VTT side)
_SRT_SHAPE = re.compile(
    rb"^(?:\xef\xbb\xbf)?\s*\d{1,5}\s*\r?\n"
    rb"\s*\d{1,2}:\d{2}:\d{2},\d{3}\s*-->")

# RFC 5322 header line: field-name (printable, no colon) ':' then a
# space or value; continuation lines start with whitespace
_HDR_RE = re.compile(rb"^[\x21-\x39\x3b-\x7e]+:([ \t]|$)")
_EML_DEFINITIVE = frozenset((
    b"received", b"return-path", b"message-id", b"mime-version",
    b"delivered-to", b"in-reply-to", b"x-mailer", b"dkim-signature",
    b"content-transfer-encoding",
))


def _looks_like_eml(b: bytes) -> bool:
    """Conservative RFC 5322 sniff: the payload must START with a
    well-formed header block (first line a header, >=3 header lines
    before the first blank line, and >=1 email-DEFINITIVE field name
    among them). Prose containing 'word: text' lines never trips it;
    false negatives fall through to 'txt' by design."""
    head = b[:4096].split(b"\r\n\r\n", 1)[0].split(b"\n\n", 1)[0]
    lines = head.replace(b"\r\n", b"\n").split(b"\n")
    if not lines or not _HDR_RE.match(lines[0]):
        return False
    n_hdrs = 0
    definitive = False
    for ln in lines:
        if ln[:1] in (b" ", b"\t"):      # folded continuation
            continue
        if not _HDR_RE.match(ln):
            return False                 # junk INSIDE the block: not mail
        n_hdrs += 1
        if ln.split(b":", 1)[0].strip().lower() in _EML_DEFINITIVE:
            definitive = True
    return n_hdrs >= 3 and definitive


def _gunzip_capped(b: bytes) -> bytes:
    """Decompress one gzip stream with the output budget enforced
    DURING inflation (a 40-byte bomb can declare terabytes)."""
    if len(b) > MAX_GZIP_IN:
        raise ValueError("gzip payload exceeds the byte budget")
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(b)) as f:
            out = f.read(MAX_GZIP_OUT + 1)
    except (OSError, EOFError, zlib.error) as e:
        raise ValueError(f"bad gzip stream: {e}") from None
    if len(out) > MAX_GZIP_OUT:
        raise ValueError("gzip stream exceeds the decompressed budget")
    return out


def extract_document_bytes(b: bytes, _depth: int = 0) -> dict:
    """Dispatch one payload → {format, text, title, n_parts}.
    Raises ValueError for non-document payloads (honest gate)."""
    if not b:
        raise ValueError("empty payload")
    if b[:5] == b"%PDF-":
        from meza_spark.llm.pdf import extract_pdf_bytes

        r = extract_pdf_bytes(b)
        return {"format": "pdf", "text": r["text"],
                "title": r["title"], "n_parts": r["n_pages"]}
    if b[:5] == b"{\\rtf":
        from meza_spark.llm.rtf import extract_rtf_bytes

        r = extract_rtf_bytes(b)
        return {"format": "rtf", "text": r["text"],
                "title": r["title"], "n_parts": r["n_groups"]}
    if b[:4] == b"PK\x03\x04":
        from meza_spark.llm.office import extract_office_bytes

        return extract_office_bytes(b)     # format/text/title/n_parts
    if b[:2] == b"\x1f\x8b":
        if _depth:
            raise ValueError("nested gzip payload — one layer only")
        return extract_document_bytes(_gunzip_capped(b), _depth + 1)
    if b[:5] == b"From " and _looks_like_eml(
            b.split(b"\n", 1)[1] if b"\n" in b else b""):
        from meza_spark.llm.eml import extract_eml_bytes, split_mbox

        texts, total_parts = [], 0
        for raw in split_mbox(b):
            r = extract_eml_bytes(raw)
            total_parts += 1
            if r["text"]:
                texts.append(r["text"])
        return {"format": "mbox", "text": "\n\n".join(texts),
                "title": None, "n_parts": total_parts}
    if _looks_like_eml(b):
        from meza_spark.llm.eml import extract_eml_bytes

        r = extract_eml_bytes(b)
        return {"format": "eml", "text": r["text"],
                "title": r["subject"], "n_parts": r["n_parts"]}
    bom_less = b[3:] if b[:3] == b"\xef\xbb\xbf" else b
    if bom_less[:6] == b"WEBVTT" or _SRT_SHAPE.match(b):  # subtitles
        from meza_spark.llm.subtitles import extract_subtitles_bytes

        r = extract_subtitles_bytes(b)
        return {"format": r["format"], "text": r["text"],
                "title": None, "n_parts": r["n_parts"]}
    if _HTML_RE.match(b[:256]):
        from meza_spark.llm.htmltext import extract_page

        title, text, kept, dropped = extract_page(
            b.decode("utf-8", "replace"), min_words=1)
        return {"format": "html", "text": text,
                "title": title or None, "n_parts": kept}
    if (b.lstrip()[:1] == b"{" and b'"cells"' in b
            and b'"nbformat"' in b):     # Jupyter notebook (JSON)
        from meza_spark.llm.notebook import extract_ipynb_bytes

        try:
            r = extract_ipynb_bytes(b)
            return {"format": "ipynb", "text": r["text"],
                    "title": None, "n_parts": r["n_parts"]}
        except ValueError:
            pass                         # JSON-but-not-a-notebook: txt
    # plain text: must BE text (strict utf-8), not arbitrary bytes
    try:
        text = b.decode("utf-8")
    except UnicodeDecodeError:
        raise ValueError(
            "unrecognized payload — not a known document container "
            "and not utf-8 text (route media via decode_image/"
            "decode_audio)") from None
    if "\x00" in text:
        raise ValueError("NUL bytes — binary, not a text document")
    return {"format": "txt", "text": text, "title": None,
            "n_parts": text.count("\n") + 1}


def document_text(df, payload_col: str = "payload",
                  id_col: str = "media_id"):
    """The one-stop content operator: format, part count, title and
    text of each payload of a mixed binary column, sniff-dispatched by
    :func:`extract_document_bytes`; rows and ``error`` rows as in
    :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        r = extract_document_bytes(b)
        return [(r["format"], r["n_parts"], r["title"], r["text"],
                 len(r["text"]))]

    return extract_rows(df, fn, "format string, n_parts int, "
                        "title string, text string, n_chars int",
                        payload_col, id_col)
