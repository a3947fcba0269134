"""RFC 5322 / MIME email → plain text (.eml payloads and mbox
archives — mailing-list dumps and mail corpora are a staple
training-data source; same pure-stdlib charter as the PDF/Office/RTF
tiers: the :mod:`email` package does the parsing, this module owns
the POLICY — which parts become text, in what order, under what
budgets).

``extract_eml_bytes`` walks the MIME tree depth-first:

* ``multipart/alternative`` → the LAST ``text/plain`` candidate wins
  (RFC 2046 §5.1.4: alternatives are ordered by increasing
  faithfulness); if no plain part exists, the html alternative is
  routed through the jusText-lite extractor;
* every other multipart → all non-attachment text parts in document
  order, joined with blank lines;
* ``text/html`` body parts → :mod:`meza_spark.llm.htmltext`;
* parts with a ``Content-Disposition: attachment`` (or a filename and
  a non-text type) are counted + named, never decoded into the body;
* base64 / quoted-printable transfer encodings and RFC 2047 encoded
  headers decode via the stdlib policy machinery.

``split_mbox`` splits a classic mboxo archive on ``From `` separator
lines and reverses ``>From `` quoting; each message then goes through
the same extractor.

Spark layer: ``eml_text`` runs the extractor row-locally over a
binary column (``util.extract_rows``) — zero shuffle, the content-tier
scale shape. Hostile payloads raise ``ValueError`` (callers surface
error rows).
"""

from __future__ import annotations

import email
import email.policy
from email.message import Message

MAX_EML_BYTES = 64 * 1024 * 1024        # one message
MAX_BODY_CHARS = 32 * 1024 * 1024       # decoded body text
MAX_PARTS = 1000                        # MIME leaves walked
MAX_MBOX_BYTES = 512 * 1024 * 1024
MAX_MBOX_MSGS = 100_000


def _part_text(part: Message) -> str:
    """Decode ONE text/* leaf to str, honoring its charset and
    transfer encoding; undecodable bytes are replaced, never fatal."""
    payload = part.get_payload(decode=True)
    if payload is None:                  # 8bit/None payloads
        raw = part.get_payload()
        txt = raw if isinstance(raw, str) else ""
    else:
        charset = part.get_content_charset() or "utf-8"
        try:
            txt = payload.decode(charset, "replace")
        except LookupError:              # unknown charset label
            txt = payload.decode("utf-8", "replace")
    # RFC 5322 canonical CRLF → LF
    return txt.replace("\r\n", "\n")


def _is_attachment(part: Message) -> bool:
    cd = (part.get("Content-Disposition") or "").strip().lower()
    if cd.startswith("attachment"):
        return True
    # inline-but-named non-text parts are attachments in practice
    return (part.get_filename() is not None
            and part.get_content_maintype() != "text")


def _html_to_text(html: str) -> str:
    from meza_spark.llm.htmltext import extract_page

    _title, text, _kept, _dropped = extract_page(html, min_words=1)
    return text


def _walk(part: Message, out: list, atts: list, seen: list) -> None:
    seen[0] += 1
    if seen[0] > MAX_PARTS:
        raise ValueError("MIME part count exceeds the budget")
    ctype = part.get_content_type()
    if part.is_multipart():
        subparts = part.get_payload()
        if not isinstance(subparts, list):
            return
        if ctype == "multipart/alternative":
            # last text/plain wins; else html; else first text/*
            plain = [p for p in subparts
                     if p.get_content_type() == "text/plain"
                     and not p.is_multipart()]
            if plain:
                out.append(_part_text(plain[-1]))
                return
            html = [p for p in subparts
                    if p.get_content_type() == "text/html"
                    and not p.is_multipart()]
            if html:
                out.append(_html_to_text(_part_text(html[-1])))
                return
            for p in subparts:           # nested alternative/related
                _walk(p, out, atts, seen)
            return
        for p in subparts:
            _walk(p, out, atts, seen)
        return
    if _is_attachment(part):
        atts.append(part.get_filename() or ctype)
        return
    if ctype == "text/plain":
        out.append(_part_text(part))
    elif ctype == "text/html":
        out.append(_html_to_text(_part_text(part)))
    elif part.get_content_maintype() == "text":
        out.append(_part_text(part))     # text/markdown, text/enriched…
    else:
        atts.append(part.get_filename() or ctype)


def extract_eml_bytes(b: bytes) -> dict:
    """One RFC 5322 message → {subject, sender, date, message_id,
    text, n_parts, n_attachments, attachment_names}."""
    if not b:
        raise ValueError("empty payload")
    if len(b) > MAX_EML_BYTES:
        raise ValueError("message exceeds the byte budget")
    try:
        msg = email.message_from_bytes(b, policy=email.policy.default)
    except Exception as e:
        raise ValueError(f"unparseable message: {e}") from None
    # presence only: msg.get() parses address headers, and the stdlib
    # parser raises IndexError on fragments such as "From: a@"
    if not any(name in msg for name in ("From", "Subject", "To",
                                        "Message-ID", "Date",
                                        "MIME-Version")):
        raise ValueError("no RFC 5322 headers — not an email")
    out: list = []
    atts: list = []
    seen = [0]
    try:
        _walk(msg, out, atts, seen)
    except ValueError:
        raise
    except Exception as e:               # policy decode edge cases
        raise ValueError(f"undecodable message body: {e}") from None
    text = "\n\n".join(t.strip("\n") for t in out if t.strip())
    if len(text) > MAX_BODY_CHARS:
        raise ValueError("decoded body exceeds the char budget")

    def hdr(name):
        try:
            v = msg.get(name)
            return str(v) if v is not None else None
        except Exception:                # malformed encoded-word
            return None

    return {"subject": hdr("Subject"), "sender": hdr("From"),
            "date": hdr("Date"), "message_id": hdr("Message-ID"),
            "text": text, "n_parts": seen[0], "n_attachments": len(atts),
            "attachment_names": atts}


def split_mbox(b: bytes) -> list[bytes]:
    """Split a classic mboxo archive into raw message byte blobs:
    messages begin at lines starting ``From `` (the envelope line is
    dropped), and ``>From `` body quoting is reversed one level."""
    if len(b) > MAX_MBOX_BYTES:
        raise ValueError("mbox exceeds the byte budget")
    if not b.startswith(b"From "):
        raise ValueError("not an mbox: missing 'From ' envelope")
    msgs: list[bytes] = []
    cur: list[bytes] = []
    for line in b.split(b"\n"):
        if line.startswith(b"From "):
            if cur:
                msgs.append(b"\n".join(cur).rstrip(b"\n") + b"\n")
                if len(msgs) >= MAX_MBOX_MSGS:
                    raise ValueError("mbox message count exceeds budget")
            cur = []
            continue                     # envelope line dropped
        if line[:1] == b">" and line.lstrip(b">").startswith(b"From "):
            line = line[1:]              # one quoting level per pass
        cur.append(line)
    if cur:
        msgs.append(b"\n".join(cur).rstrip(b"\n") + b"\n")
    return msgs


# ----------------------------------------------------------- encoders

def encode_eml(parts, subject: str = None, sender: str = "a@example.com",
               cte: str = "7bit", html_alt: str = None,
               attachments=(), boundary: str = "====meza====",
               date: str = "Mon, 01 Jan 2024 00:00:00 +0000") -> bytes:
    """Build a deterministic RFC 5322 fixture: ``parts`` text bodies
    (one → simple message, many → multipart/mixed), optional html
    alternative (→ multipart/alternative), explicit boundary and
    Date so byte output is stable. cte: 7bit|base64|quoted-printable."""
    from email.message import EmailMessage

    msg = EmailMessage()
    if subject is not None:
        msg["Subject"] = subject
    msg["From"] = sender
    msg["To"] = "corpus@example.com"
    msg["Date"] = date
    msg["Message-ID"] = "<fixture@example.com>"
    parts = list(parts)
    def _cte_for(text):
        # 7bit cannot carry non-ASCII; fall back to quoted-printable
        if cte == "7bit" and not text.isascii():
            return "quoted-printable"
        return cte

    msg.set_content(parts[0], cte=_cte_for(parts[0]))
    if html_alt is not None:
        msg.add_alternative(html_alt, subtype="html")
    for extra in parts[1:]:
        # inline text parts re-join the body walk on extraction
        msg.add_attachment(extra, subtype="plain",
                           disposition="inline", cte=_cte_for(extra))
    for name, blob in attachments:
        if not msg.is_multipart():
            msg.make_mixed()
        msg.add_attachment(blob, maintype="application",
                           subtype="octet-stream", filename=name)
    if msg.is_multipart():
        msg.set_boundary(boundary)
        for i, sub in enumerate(p for p in msg.get_payload()
                                if p.is_multipart()):
            sub.set_boundary(boundary + str(i))
    return msg.as_bytes()


def encode_mbox(messages) -> bytes:
    """Join raw message blobs into an mboxo archive with ``From ``
    envelopes; body lines matching ``>*From `` gain one more ``>``
    (quoting only bare ``From `` would corrupt an already-quoted
    ``>From `` line on the round trip)."""
    out = []
    for m in messages:
        out.append(b"From fixture@example.com Mon Jan  1 00:00:00 2024")
        body = m.rstrip(b"\n")
        quoted = b"\n".join(
            b">" + ln if ln.lstrip(b">").startswith(b"From ") else ln
            for ln in body.split(b"\n"))
        out.append(quoted)
        out.append(b"")
    return b"\n".join(out)


# ----------------------------------------------------------- spark layer

def eml_text(df, payload_col: str = "payload", id_col: str = "media_id"):
    """Subject, sender, part and attachment counts and body text of
    each .eml payload; rows and ``error`` rows as in
    :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        r = extract_eml_bytes(b)
        return [(r["subject"], r["sender"], r["n_parts"],
                 r["n_attachments"], r["text"], len(r["text"]))]

    return extract_rows(df, fn, "subject string, sender string, "
                        "n_parts int, n_attachments int, text string, "
                        "n_chars int", payload_col, id_col)
