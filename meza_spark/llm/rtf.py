"""Pure-stdlib RTF text extraction (Microsoft Rich Text Format —
the legacy word-processing interchange format still common in mail
archives, court records and government corpora; same charter as the
PDF/office tiers: ref analog meza's stdlib parsers, io.py:598-1118).

The reader is the standard single-pass group-stack machine over the
public RTF 1.9 specification's core model:

* ``{`` / ``}`` push/pop group state (the \\ucN skip-count is the
  state that actually matters for text fidelity).
* Control words ``\\word[-]?N?`` with their optional space
  terminator; control symbols ``\\x`` for non-alpha x.
* Destination groups that carry no body text are skipped wholesale:
  fonttbl, colortbl, stylesheet, info (mined for /title first),
  pict, object, field instructions (``\\fldinst`` — the visible
  ``\\fldrslt`` text is kept), headers/footers/footnotes, and every
  unknown ``{\\*`` destination (the spec's forward-compat rule).
* Encoded text: ``\\'hh`` code-page bytes (decoded per ``\\ansicpgN``
  when Python knows the codec, cp1252 otherwise), ``\\uN`` unicode
  with the signed-16-bit convention and the group's ``\\ucN``
  fallback-byte skip.
* Layout controls → text: ``\\par``/``\\line``/``\\row`` newline,
  ``\\tab``/``\\cell`` tab, ``\\~`` NBSP, ``\\-``/``\\_`` hyphens,
  ``\\emdash`` etc. through a small symbol table.

Budgets: input size and output length are capped before/while
growing (the inflate-cap discipline); truncated or hostile files
raise ValueError, never typed escapes.
"""

from __future__ import annotations

import re

MAX_RTF_BYTES = 64 * 1024 * 1024
MAX_TEXT_CHARS = 64 * 1024 * 1024
MAX_GROUP_DEPTH = 256

# destinations whose content is NOT body text (RTF 1.9 §"Destination
# Text"); \info is handled separately so /title survives
_SKIP_DESTS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "listtable",
    "listoverridetable", "latentstyles", "rsidtbl", "generator",
    "pict", "object", "objdata", "themedata", "colorschememapping",
    "datastore", "fldinst", "xmlnstbl", "header", "footer",
    "headerl", "headerr", "headerf", "footerl", "footerr", "footerf",
    "footnote", "annotation", "bkmkstart", "bkmkend",
))

# control words that EMIT text (everything else formats, and is
# dropped on the floor like a renderer ignoring unknown words)
_EMIT = {
    "par": "\n", "line": "\n", "row": "\n", "sect": "\n",
    "page": "\n", "tab": "\t", "cell": "\t", "emdash": "—",
    "endash": "–", "lquote": "‘", "rquote": "’",
    "ldblquote": "“", "rdblquote": "”", "bullet": "•",
    "emspace": " ", "enspace": " ", "qmspace": " ",
}

_CW_RE = re.compile(rb"([a-z]+)(-?\d+)? ?", re.I)


def _codec_for(cpg: int) -> str:
    try:
        "".encode(f"cp{cpg}")  # probe: does Python ship this page?
    except LookupError:
        return "cp1252"
    return f"cp{cpg}"


def extract_rtf_bytes(b: bytes) -> dict:
    """RTF → {text, n_groups, title}. Single pass, group stack,
    spec-default cp1252 until ``\\ansicpgN`` says otherwise."""
    if len(b) > MAX_RTF_BYTES:
        raise ValueError("RTF payload exceeds the byte budget")
    if b[:5] != b"{\\rtf":
        raise ValueError("not an RTF file (no {\\rtf header)")
    out: list[str] = []
    title: list[str] = []
    codec = "cp1252"
    # group stack entries: [uc_skip, dest] where dest is one of
    # 'body', 'skip', 'info', 'title'
    stack: list[list] = [[1, "body"]]
    n_groups = 0
    pend_hi = None           # high surrogate awaiting its \uN low half
    pend_skip = 0            # \uN fallback bytes still to swallow
    star = False             # just saw {\* — next control word names
    #                          an (unknown ⇒ skipped) destination
    # start at 0: the machine itself consumes "{" and the \rtf1
    # control word (whose version digit must NOT leak as body text)
    i, n = 0, len(b)

    def emit(s: str):
        dest = stack[-1][1]
        if dest == "skip" or not s:
            return
        sink = title if dest == "title" else out
        if dest == "info" and sink is out:
            return                      # info text outside \title
        if sum(map(len, sink)) + len(s) > MAX_TEXT_CHARS:
            raise ValueError("RTF text exceeds the output budget")
        sink.append(s)

    while i < n:
        c = b[i]
        if c == 0x7B:                                   # {
            if len(stack) >= MAX_GROUP_DEPTH:
                raise ValueError("RTF group nesting too deep")
            stack.append(list(stack[-1]))
            if stack[-1][1] == "title":
                stack[-1][1] = "info"   # sub-groups of \title aren't it
            n_groups += 1
            star = False
            i += 1
        elif c == 0x7D:                                 # }
            if len(stack) > 1:
                stack.pop()
            i += 1
            star = False
        elif c == 0x5C:                                 # backslash
            if i + 1 >= n:
                break
            nx = b[i + 1]
            if nx == 0x27:                              # \'hh
                hx = b[i + 2:i + 4]
                i += 4
                if pend_skip:
                    pend_skip -= 1
                    continue
                try:
                    emit(bytes([int(hx, 16)]).decode(codec, "replace"))
                except ValueError:
                    raise ValueError("bad RTF hex escape") from None
            elif nx == 0x2A:                            # \*
                star = True
                i += 2
            elif not (0x61 <= (nx | 0x20) <= 0x7A):     # control symbol
                i += 2
                if pend_skip:
                    pend_skip -= 1
                    continue
                emit({0x7E: " ", 0x2D: "", 0x5F: "-",
                      0x5C: "\\", 0x7B: "{", 0x7D: "}"}
                     .get(nx, ""))
            else:                                       # control word
                m = _CW_RE.match(b, i + 1)
                if m is None:
                    raise ValueError("malformed RTF control word")
                word = m.group(1).decode("ascii").lower()
                arg = int(m.group(2)) if m.group(2) else None
                i = m.end()
                # the spec terminator is ONE optional space; _CW_RE
                # consumed it — a second space is body text
                if star and word not in ("u",):
                    # {\* \unknowndest ...}: skip the whole group
                    if stack[-1][1] != "title":
                        stack[-1][1] = "skip"
                    star = False
                    continue
                star = False
                if word == "u":
                    cp = arg if arg is not None else 0
                    if cp < 0:
                        cp += 65536      # signed-16-bit convention
                    if pend_skip:
                        pend_skip -= 1   # we ARE someone's fallback
                        continue
                    if 0xD800 <= cp <= 0xDBFF:
                        pend_hi = cp     # high surrogate: wait for low
                    elif 0xDC00 <= cp <= 0xDFFF:
                        if pend_hi is not None:
                            emit(chr(0x10000
                                     + ((pend_hi - 0xD800) << 10)
                                     + (cp - 0xDC00)))
                        pend_hi = None   # unpaired low: dropped
                    elif 0 <= cp <= 0xFFFF:
                        pend_hi = None   # unpaired high: dropped
                        emit(chr(cp))
                    pend_skip = stack[-1][0]
                    continue
                if pend_skip:
                    # a control word also counts as one fallback unit
                    pend_skip -= 1
                    continue
                if word == "uc" and arg is not None and 0 <= arg <= 16:
                    stack[-1][0] = arg
                elif word == "ansicpg" and arg:
                    codec = _codec_for(arg)
                elif word == "bin":
                    cnt = max(0, arg or 0)
                    if cnt > MAX_RTF_BYTES:
                        raise ValueError("hostile RTF \\bin length")
                    i += cnt             # raw bytes: not text
                elif word in _SKIP_DESTS:
                    if stack[-1][1] != "title":
                        stack[-1][1] = "skip"
                elif word == "info":
                    stack[-1][1] = "info"
                elif word == "title" and stack[-1][1] == "info":
                    stack[-1][1] = "title"
                elif word in _EMIT:
                    emit(_EMIT[word])
                # every other control word: formatting, ignored
        elif c in (0x0D, 0x0A, 0x00):
            i += 1                       # raw CR/LF are NOT text in RTF
        else:
            j = i
            while j < n and b[j] not in (0x5C, 0x7B, 0x7D,
                                         0x0D, 0x0A, 0x00):
                j += 1
            seg = b[i:j].decode(codec, "replace")
            if pend_skip:
                drop = min(pend_skip, len(seg))
                pend_skip -= drop
                seg = seg[drop:]
            if seg:
                pend_hi = None   # real text between surrogate halves:
                #                  the high half was unpaired — drop it
            emit(seg)
            i = j
    text = "".join(out)
    return {"text": text.strip("\n"), "n_groups": n_groups,
            "title": "".join(title) or None}


# ------------------------------------------------------------ spark layer

def rtf_text(df, payload_col: str = "payload",
             id_col: str = "media_id"):
    """Group count, title and text of each RTF payload; rows and
    ``error`` rows as in :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        r = extract_rtf_bytes(b)
        return [(r["n_groups"], r["title"], r["text"], len(r["text"]))]

    return extract_rows(df, fn, "n_groups int, title string, "
                        "text string, n_chars int", payload_col, id_col)


# --------------------------------------------------------- fixture side

def _rtf_escape(s: str) -> bytes:
    out = bytearray()
    for ch in s:
        o = ord(ch)
        if ch in "\\{}":
            out += b"\\" + ch.encode("ascii")
        elif ch == "\n":
            out += b"\\line "
        elif ch == "\t":
            out += b"\\tab "
        elif 0x20 <= o <= 0x7E:
            out.append(o)
        elif o < 256:
            out += b"\\'%02x" % o
        elif o > 0xFFFF:
            # astral plane: RTF is UTF-16 under the hood — emit a
            # surrogate PAIR of \uN words (each with its fallback)
            v = o - 0x10000
            for half in (0xD800 + (v >> 10), 0xDC00 + (v & 0x3FF)):
                out += b"\\u%d?" % (half - 65536)
        else:
            q = o - 65536 if o > 32767 else o
            out += b"\\u%d?" % q
    return bytes(out)


def encode_rtf(paragraphs, title: str | None = None) -> bytes:
    """Minimal spec-valid RTF 1.x: ansi + cp1252 prolog, a fonttbl
    and colortbl (exercising destination skips), optional
    {\\info{\\title}}, body paragraphs separated by \\par."""
    if isinstance(paragraphs, str):
        paragraphs = [paragraphs]
    out = bytearray(b"{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1")
    out += (b"{\\fonttbl{\\f0\\fswiss Helvetica;}}"
            b"{\\colortbl;\\red0\\green0\\blue0;}")
    if title is not None:
        out += b"{\\info{\\title %s}}" % _rtf_escape(title)
    for k, p in enumerate(paragraphs):
        if k:
            out += b"\\par "
        out += b"{\\f0 " + _rtf_escape(p) + b"}"
    out += b"}"
    return bytes(out)
