"""Pure-stdlib PDF text extraction — the highest-volume real-corpus
format a crawl/curation pipeline meets (r8 verdict task #1).

Scope (the dominant modern-PDF case, same playbook as Jet/BIFF/WARC):

* COS object model: literal/hex strings, names, arrays, dicts,
  indirect references, streams (``/Length`` may itself be indirect).
* Both cross-reference flavors: classic ``xref`` tables AND
  cross-reference STREAMS (``/Type /XRef`` with ``/W`` field widths,
  PNG-predictor ``/DecodeParms``), ``/Prev`` incremental-update
  chains, hybrid ``/XRefStm``, plus a whole-file object scan as the
  recovery path for broken offsets.
* Object streams (``/Type /ObjStm``) — where pdfTeX/LibreOffice park
  the catalog, page dicts and fonts.
* Stream filters: FlateDecode (zlib) with PNG/TIFF predictors,
  LZWDecode (EarlyChange 1), ASCIIHexDecode, ASCII85Decode,
  RunLengthDecode. Image-only filters (DCT/JPX/CCITT/JBIG2) never
  carry text and are skipped at the content layer.
* Page-tree traversal with attribute inheritance and cycle guards.
* Content-stream interpretation: BT/ET text objects, Tj/TJ/'/" shows,
  Td/TD/Tm/T* line moves (newline on y-motion), TJ kerning gaps →
  spaces, form-XObject recursion, inline-image (BI..ID..EI) skip.
* Character decoding: per-font code→Unicode maps from /ToUnicode
  CMaps (bfchar/bfrange), simple-font /Encoding (Standard, WinAnsi,
  MacRoman bases + /Differences) through an Adobe-Glyph-List subset,
  Type0/Identity fallbacks.

Encryption: the standard security handler with an EMPTY user
password (RC4, V1/V2 R2/R3 — the permissions-only encryption most
real "encrypted" PDFs carry) decrypts transparently via
hashlib.md5 + a 12-line RC4. Honest gates (skippable ``ValueError``):
AES encryption (V≥4 — no stdlib AES), a real user password, custom
security handlers, unsupported stream filters in the xref/content
path, EarlyChange=0 LZW. Every inflate is budget-capped BEFORE
allocation (the tile-grid-bomb discipline, multimodal.py r8).

Reference parity: the reference engine (/root/reference/meza) has no
PDF support — this module is part of the beyond-reference
training-data tier, spec'd from the public PDF 1.7 standard
(ISO 32000-1) only.
"""

from __future__ import annotations

import re
import struct
import zlib

__all__ = [
    "MAX_PDF_BYTES", "MAX_STREAM_BYTES", "MAX_TOTAL_INFLATE",
    "extract_pdf_bytes", "encode_pdf", "pdf_text",
]

MAX_PDF_BYTES = 256_000_000      # raw payload cap
MAX_STREAM_BYTES = 64_000_000    # one decoded stream
MAX_TOTAL_INFLATE = 256_000_000  # decoded bytes per document
MAX_OBJECTS = 1_000_000
MAX_PAGES = 100_000
_MAX_DEPTH = 48                  # object / page-tree nesting
_TJ_SPACE_GAP = 180              # TJ number ≤ -gap (milli-em) → space

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def _as_int(v, what: str) -> int:
    """Coerce a parsed COS value to int, raising the module's
    skippable ValueError (never TypeError) on refs/dicts/names —
    hostile trailers say things like /Prev 9 0 R (review find, r9)."""
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise ValueError(f"bad PDF {what}")
    return int(v)


class _Ref:
    """Indirect reference `num gen R`."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self):
        return f"{self.num} {self.gen} R"

    def __eq__(self, other):
        return (isinstance(other, _Ref) and other.num == self.num
                and other.gen == self.gen)

    def __hash__(self):
        return hash((self.num, self.gen))


class _Kw(str):
    """Bare keyword token (content-stream operator / obj / stream)."""


class _Name(str):
    """PDF name object (`/Foo` → _Name('Foo')) — distinct from text
    strings so dict keys and filter names can't be spoofed by string
    payloads."""


# ------------------------------------------------------------------ lexer

class _Lex:
    __slots__ = ("b", "pos", "end")

    def __init__(self, b: bytes, pos: int = 0, end: int | None = None):
        self.b = b
        self.pos = pos
        self.end = len(b) if end is None else end

    def skip_ws(self):
        b, end = self.b, self.end
        while self.pos < end:
            c = b[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:                          # % comment → EOL
                while self.pos < end and b[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def at_end(self) -> bool:
        self.skip_ws()
        return self.pos >= self.end


def _parse_string(lex: _Lex) -> bytes:
    """Literal string `(...)` with nested parens and \\ escapes."""
    b, end = lex.b, lex.end
    lex.pos += 1                                     # past '('
    out = bytearray()
    depth = 1
    while lex.pos < end:
        c = b[lex.pos]
        if c == 0x5C:                                # backslash
            lex.pos += 1
            if lex.pos >= end:
                break
            e = b[lex.pos]
            if e in b"nrtbf()\\":
                out += {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                        0x62: b"\b", 0x66: b"\f"}.get(e, bytes([e]))
                lex.pos += 1
            elif 0x30 <= e <= 0x37:                  # \ddd octal
                val, n = 0, 0
                while n < 3 and lex.pos < end and 0x30 <= b[lex.pos] <= 0x37:
                    val = val * 8 + (b[lex.pos] - 0x30)
                    lex.pos += 1
                    n += 1
                out.append(val & 0xFF)
            elif e in b"\r\n":                       # line continuation
                lex.pos += 1
                if e == 0x0D and lex.pos < end and b[lex.pos] == 0x0A:
                    lex.pos += 1
            else:                                    # \X → X
                out.append(e)
                lex.pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            lex.pos += 1
        elif c == 0x29:
            depth -= 1
            lex.pos += 1
            if depth == 0:
                return bytes(out)
            out.append(c)
        else:
            out.append(c)
            lex.pos += 1
    raise ValueError("unterminated PDF string")


def _parse_hex_string(lex: _Lex) -> bytes:
    b, end = lex.b, lex.end
    lex.pos += 1                                     # past '<'
    digs = bytearray()
    while lex.pos < end:
        c = b[lex.pos]
        lex.pos += 1
        if c == 0x3E:                                # '>'
            if len(digs) % 2:
                digs.append(0x30)                    # pad odd with 0
            return bytes.fromhex(digs.decode("ascii"))
        if c in _WS:
            continue
        if not (0x30 <= c <= 0x39 or 0x41 <= c <= 0x46
                or 0x61 <= c <= 0x66):
            raise ValueError("bad PDF hex-string digit")
        digs.append(c)
    raise ValueError("unterminated PDF hex string")


def _parse_name(lex: _Lex) -> _Name:
    b, end = lex.b, lex.end
    lex.pos += 1                                     # past '/'
    out = bytearray()
    while lex.pos < end:
        c = b[lex.pos]
        if c in _WS or c in _DELIM:
            break
        if c == 0x23 and lex.pos + 2 < end:          # #xx escape
            try:
                out.append(int(b[lex.pos + 1:lex.pos + 3], 16))
                lex.pos += 3
                continue
            except ValueError:
                pass
        out.append(c)
        lex.pos += 1
    return _Name(out.decode("latin-1"))


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_KW_RE = re.compile(rb"[A-Za-z'\"*]+")


def _parse_object(lex: _Lex, depth: int = 0):
    """One COS object (or a _Kw for bare keywords/operators)."""
    if depth > _MAX_DEPTH:
        raise ValueError("PDF object nesting too deep")
    lex.skip_ws()
    if lex.pos >= lex.end:
        raise ValueError("unexpected end of PDF data")
    b = lex.b
    c = b[lex.pos]
    if c == 0x2F:                                    # /Name
        return _parse_name(lex)
    if c == 0x28:                                    # (string)
        return _parse_string(lex)
    if c == 0x3C:                                    # << dict or <hex>
        if b[lex.pos:lex.pos + 2] == b"<<":
            lex.pos += 2
            d = {}
            while True:
                lex.skip_ws()
                if b[lex.pos:lex.pos + 2] == b">>":
                    lex.pos += 2
                    return d
                key = _parse_object(lex, depth + 1)
                if not isinstance(key, _Name):
                    raise ValueError("PDF dict key is not a name")
                d[str(key)] = _parse_object(lex, depth + 1)
        return _parse_hex_string(lex)
    if c == 0x5B:                                    # [ array ]
        lex.pos += 1
        arr = []
        while True:
            lex.skip_ws()
            if lex.pos < lex.end and b[lex.pos] == 0x5D:
                lex.pos += 1
                return arr
            if lex.pos >= lex.end:
                raise ValueError("unterminated PDF array")
            arr.append(_parse_object(lex, depth + 1))
    if c == 0x5D or c == 0x3E:
        raise ValueError("unbalanced PDF delimiter")
    m = _NUM_RE.match(b, lex.pos)
    if m and m.start() == lex.pos and (c in b"+-." or 0x30 <= c <= 0x39):
        lex.pos = m.end()
        tok = m.group()
        if b"." in tok:
            return float(tok)
        first = int(tok)
        # lookahead for `gen R` → indirect reference
        save = lex.pos
        lex.skip_ws()
        m2 = _NUM_RE.match(b, lex.pos)
        if m2 and m2.start() == lex.pos and b"." not in m2.group():
            p2 = m2.end()
            lex.pos = p2
            lex.skip_ws()
            if lex.pos < lex.end and b[lex.pos] == 0x52 and (
                    lex.pos + 1 >= lex.end
                    or b[lex.pos + 1] in _WS or b[lex.pos + 1] in _DELIM):
                lex.pos += 1
                return _Ref(first, int(m2.group()))
        lex.pos = save
        return first
    m = _KW_RE.match(b, lex.pos)
    if m and m.start() == lex.pos:
        lex.pos = m.end()
        kw = m.group().decode("latin-1")
        if kw == "true":
            return True
        if kw == "false":
            return False
        if kw == "null":
            return None
        return _Kw(kw)
    # single-byte operators the keyword regex can't take (e.g. ")
    lex.pos += 1
    return _Kw(chr(c))


# ---------------------------------------------------------------- filters

def _png_predict(data: bytes, columns: int, colors: int,
                 bpc: int) -> bytes:
    """Undo PNG row predictors (each row = 1 filter byte + rowbytes),
    the standard /DecodeParms for Flate'd xref streams."""
    from meza_spark.llm.multimodal import _png_paeth

    bpp = max(1, (colors * bpc + 7) // 8)
    rowbytes = (columns * colors * bpc + 7) // 8
    if rowbytes <= 0:
        raise ValueError("bad PDF predictor columns")
    stride = rowbytes + 1
    if len(data) % stride:
        data = data[:len(data) // stride * stride]
    out = bytearray()
    prev = bytearray(rowbytes)
    for r0 in range(0, len(data), stride):
        ft = data[r0]
        row = bytearray(data[r0 + 1:r0 + stride])
        if ft == 1:                                  # Sub
            for i in range(bpp, rowbytes):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:                                # Up
            for i in range(rowbytes):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:                                # Average
            for i in range(rowbytes):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:                                # Paeth
            for i in range(rowbytes):
                a = row[i - bpp] if i >= bpp else 0
                cdi = prev[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _png_paeth(a, prev[i], cdi)) & 0xFF
        elif ft != 0:
            raise ValueError("bad PDF PNG predictor filter byte")
        out += row
        prev = row
    return bytes(out)


def _tiff_predict(data: bytes, columns: int, colors: int,
                  bpc: int) -> bytes:
    if bpc != 8:
        raise ValueError("TIFF predictor bpc != 8 unsupported")
    row = columns * colors
    out = bytearray(data)
    for r0 in range(0, len(out) - row + 1, row):
        for i in range(colors, row):
            out[r0 + i] = (out[r0 + i] + out[r0 + i - colors]) & 0xFF
    return bytes(out)


def _inflate_capped(data: bytes, cap: int) -> bytes:
    """zlib inflate that can never allocate past `cap` — the budget
    check happens BEFORE the bytes exist (tile-grid discipline)."""
    d = zlib.decompressobj()
    out = bytearray()
    chunk = data
    try:
        while True:
            piece = d.decompress(chunk, 1 << 20)
            out += piece
            if len(out) > cap:
                raise ValueError("PDF stream exceeds the inflate budget")
            if d.eof or (not d.unconsumed_tail and not piece):
                break
            chunk = d.unconsumed_tail
    except zlib.error as e:
        raise ValueError(f"bad PDF Flate stream: {e}") from None
    return bytes(out)


def _rle_decode(data: bytes, cap: int) -> bytes:
    """RunLengthDecode: n≤127 copy n+1; n≥129 repeat next 257-n;
    n=128 EOD."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = data[pos]
        pos += 1
        if n == 128:
            break
        if n < 128:
            out += data[pos:pos + n + 1]
            pos += n + 1
        else:
            if pos >= len(data):
                raise ValueError("truncated PDF RunLength stream")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        if len(out) > cap:
            raise ValueError("PDF stream exceeds the inflate budget")
    return bytes(out)


def _a85_decode(data: bytes, cap: int) -> bytes:
    import base64

    data = bytes(data).strip()
    if data.endswith(b"~>"):
        data = data[:-2]
    if not data.startswith(b"<~"):
        data = b"<~" + data
    # expansion bound BEFORE decoding: 5 chars -> 4 bytes, but the
    # 'z' shorthand is 1 char -> 4 bytes (review find, r9)
    nz = data.count(b"z")
    if ((len(data) - nz) // 5 + nz + 1) * 4 > cap:
        raise ValueError("PDF stream exceeds the inflate budget")
    try:
        return base64.a85decode(data + b"~>", adobe=True)
    except ValueError as e:
        raise ValueError(f"bad PDF ASCII85 stream: {e}") from None


def _ahx_decode(data: bytes, cap: int) -> bytes:
    digs = bytearray()
    for c in data:
        if c in _WS:
            continue
        if c == 0x3E:                                # '>' EOD
            break
        if not (0x30 <= c <= 0x39 or 0x41 <= c <= 0x46
                or 0x61 <= c <= 0x66):
            raise ValueError("bad PDF ASCIIHex digit")
        digs.append(c)
        if len(digs) > cap * 2:
            raise ValueError("PDF stream exceeds the inflate budget")
    if len(digs) % 2:
        digs.append(0x30)
    return bytes.fromhex(digs.decode("ascii"))


def _apply_filters(data: bytes, filters, parms, budget) -> bytes:
    """Run the /Filter chain; `budget` is a 1-element mutable list
    tracking decoded bytes across the whole document."""
    if filters is None:
        filters = []
    if isinstance(filters, (_Name, str)):
        filters = [filters]
    if parms is None or isinstance(parms, dict):
        parms = [parms] * len(filters)
    for i, f in enumerate(filters):
        f = str(f)
        p = parms[i] if i < len(parms) else None
        if p is None:
            p = {}
        elif not isinstance(p, dict):
            raise ValueError("bad PDF /DecodeParms entry")
        cap = min(MAX_STREAM_BYTES, MAX_TOTAL_INFLATE - budget[0])
        if cap <= 0:
            raise ValueError("PDF document exceeds the inflate budget")
        if f == "FlateDecode" or f == "Fl":
            data = _inflate_capped(data, cap)
        elif f == "LZWDecode" or f == "LZW":
            if p.get("EarlyChange", 1) != 1:
                raise ValueError("PDF LZW EarlyChange=0 unsupported")
            from meza_spark.llm.multimodal import _tiff_lzw
            data = bytes(_tiff_lzw(data, cap))
        elif f == "ASCIIHexDecode" or f == "AHx":
            data = _ahx_decode(data, cap)
        elif f == "ASCII85Decode" or f == "A85":
            data = _a85_decode(data, cap)
        elif f == "RunLengthDecode" or f == "RL":
            data = _rle_decode(data, cap)
        elif f == "Crypt":
            raise ValueError("PDF Crypt filter unsupported")
        else:
            # image-only codecs (DCT/JPX/CCITT/JBIG2) or unknown —
            # no text lives behind them
            raise ValueError(f"unsupported PDF stream filter /{f}")
        budget[0] += len(data)
        if budget[0] > MAX_TOTAL_INFLATE:
            raise ValueError("PDF document exceeds the inflate budget")
        pred = p.get("Predictor", 1)
        if pred and pred != 1:
            cols = int(p.get("Columns", 1))
            colors = int(p.get("Colors", 1))
            bpc = int(p.get("BitsPerComponent", 8))
            if cols <= 0 or cols > 1 << 22 or colors <= 0 or colors > 64:
                raise ValueError("bad PDF predictor parameters")
            if pred >= 10:
                data = _png_predict(data, cols, colors, bpc)
            elif pred == 2:
                data = _tiff_predict(data, cols, colors, bpc)
            else:
                raise ValueError("bad PDF predictor value")
    return data


# -------------------------------------------------------- char encodings

# Adobe glyph names for ASCII 32..126 (shared by Standard, WinAnsi and
# MacRoman in that range, bar the two quote slots Standard remaps).
_ASCII_NAMES = (
    "space exclam quotedbl numbersign dollar percent ampersand "
    "quotesingle parenleft parenright asterisk plus comma hyphen "
    "period slash zero one two three four five six seven eight nine "
    "colon semicolon less equal greater question at A B C D E F G H I "
    "J K L M N O P Q R S T U V W X Y Z bracketleft backslash "
    "bracketright asciicircum underscore grave a b c d e f g h i j k "
    "l m n o p q r s t u v w x y z braceleft bar braceright "
    "asciitilde"
).split()

# AGL subset: every glyph name the three base encodings use, plus the
# TeX/quote/dash/ligature names pdfTeX text fonts lean on.
_GLYPHS: dict[str, str] = {n: chr(32 + i) for i, n in
                           enumerate(_ASCII_NAMES)}
_GLYPHS.update({
    "quoteright": "’", "quoteleft": "‘",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ",
    "ffi": "ﬃ", "ffl": "ﬄ",
    "bullet": "•", "dagger": "†", "daggerdbl": "‡",
    "ellipsis": "…", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "guillemotleft": "«", "guillemotright": "»",
    "exclamdown": "¡", "questiondown": "¿",
    "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "florin": "ƒ", "section": "§",
    "paragraph": "¶", "periodcentered": "·",
    "fraction": "⁄", "Euro": "€", "trademark": "™",
    "copyright": "©", "registered": "®",
    "circlecopyrt": "©",       # TeX CMSY: \copyright's enclosing circle
    "degree": "°", "plusminus": "±", "mu": "µ",
    "multiply": "×", "divide": "÷", "logicalnot": "¬",
    "brokenbar": "¦", "ordfeminine": "ª",
    "ordmasculine": "º", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾",
    "onesuperior": "¹", "twosuperior": "²",
    "threesuperior": "³", "acute": "´",
    "cedilla": "¸", "dieresis": "¨", "macron": "¯",
    "circumflex": "ˆ", "tilde": "˜", "caron": "ˇ",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "ogonek": "˛", "hungarumlaut": "˝",
    "grave": "`", "minus": "−", "dotlessi": "ı",
    "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "oslash": "ø",
    "Oslash": "Ø", "aring": "å", "Aring": "Å",
    "ccedilla": "ç", "Ccedilla": "Ç",
    "ntilde": "ñ", "Ntilde": "Ñ",
    "eth": "ð", "Eth": "Ð", "thorn": "þ",
    "Thorn": "Þ", "Lslash": "Ł", "lslash": "ł",
    "Scaron": "Š", "scaron": "š", "Zcaron": "Ž",
    "zcaron": "ž", "Ydieresis": "Ÿ",
    "nbspace": " ", "sfthyphen": "­",
})
# accented Latin-1 letters: names are systematic (agrave..ydieresis)
for _base, _accents in (
        ("a", "grave acute circumflex tilde dieresis"),
        ("e", "grave acute circumflex dieresis"),
        ("i", "grave acute circumflex dieresis"),
        ("o", "grave acute circumflex tilde dieresis"),
        ("u", "grave acute circumflex dieresis"),
        ("y", "acute")):
    for _acc in _accents.split():
        import unicodedata as _ud
        _nm = {"grave": "GRAVE", "acute": "ACUTE",
               "circumflex": "CIRCUMFLEX", "tilde": "TILDE",
               "dieresis": "DIAERESIS"}[_acc]
        for _b2, _case in ((_base, "SMALL"), (_base.upper(), "CAPITAL")):
            try:
                _ch = _ud.lookup(
                    f"LATIN {_case} LETTER {_base.upper()} WITH {_nm}")
            except KeyError:
                continue
            _GLYPHS[f"{_b2}{_acc}"] = _ch


def _glyph_to_char(name: str) -> str | None:
    if name in _GLYPHS:
        return _GLYPHS[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return None


def _base_table(kind: str) -> dict[int, str]:
    """code → unicode for the three simple-font base encodings."""
    t = {32 + i: _GLYPHS[n] for i, n in enumerate(_ASCII_NAMES)}
    if kind == "StandardEncoding":
        t[39] = "’"                             # quoteright
        t[96] = "‘"                             # quoteleft
        for c, n in ((161, "exclamdown"), (162, "cent"),
                     (163, "sterling"), (164, "fraction"),
                     (165, "yen"), (166, "florin"), (167, "section"),
                     (168, "currency"), (169, "quotesingle"),
                     (170, "quotedblleft"), (171, "guillemotleft"),
                     (172, "guilsinglleft"), (173, "guilsinglright"),
                     (174, "fi"), (175, "fl"), (177, "endash"),
                     (178, "dagger"), (179, "daggerdbl"),
                     (180, "periodcentered"), (182, "paragraph"),
                     (183, "bullet"), (184, "quotesinglbase"),
                     (185, "quotedblbase"), (186, "quotedblright"),
                     (187, "guillemotright"), (188, "ellipsis"),
                     (189, "perthousand"), (191, "questiondown"),
                     (193, "grave"), (194, "acute"),
                     (195, "circumflex"), (196, "tilde"),
                     (197, "macron"), (198, "breve"),
                     (199, "dotaccent"), (200, "dieresis"),
                     (202, "ring"), (203, "cedilla"),
                     (205, "hungarumlaut"), (206, "ogonek"),
                     (207, "caron"), (208, "emdash"),
                     (225, "AE"), (227, "ordfeminine"),
                     (232, "Lslash"), (233, "Oslash"), (234, "OE"),
                     (235, "ordmasculine"), (241, "ae"),
                     (245, "dotlessi"), (248, "lslash"),
                     (249, "oslash"), (250, "oe"),
                     (251, "germandbls")):
            t[c] = _GLYPHS[n]
    elif kind == "WinAnsiEncoding":
        # 0x80.. block of CP1252 specials, then Latin-1 128..255
        for c, u in ((0x80, "€"), (0x82, "‚"), (0x83, "ƒ"),
                     (0x84, "„"), (0x85, "…"), (0x86, "†"),
                     (0x87, "‡"), (0x88, "ˆ"), (0x89, "‰"),
                     (0x8A, "Š"), (0x8B, "‹"), (0x8C, "Œ"),
                     (0x8E, "Ž"), (0x91, "‘"), (0x92, "’"),
                     (0x93, "“"), (0x94, "”"), (0x95, "•"),
                     (0x96, "–"), (0x97, "—"), (0x98, "˜"),
                     (0x99, "™"), (0x9A, "š"), (0x9B, "›"),
                     (0x9C, "œ"), (0x9E, "ž"), (0x9F, "Ÿ")):
            t[c] = u
        for c in range(0xA0, 0x100):
            t[c] = chr(c)
    elif kind == "MacRomanEncoding":
        mac = ("ÄÅÇÉÑÖÜáàâäãåçéèêëíìîïñóòôöõúùûü†°¢£§•¶ß®©™´¨≠ÆØ∞±≤≥¥µ"
               "∂∑∏π∫ªºΩæø¿¡¬√ƒ≈∆«»… ÀÃÕŒœ–—“”‘’÷◊ÿŸ⁄€‹›ﬁﬂ‡·‚„‰"
               "ÂÊÁËÈÍÎÏÌÓÔ�ÒÚÛÙıˆ˜¯˘˙˚¸˝˛ˇ")
        for i, ch in enumerate(mac):
            t[128 + i] = ch
    return t


# ToUnicode CMaps repeat heavily across the documents of a corpus
# (embedded-font CMaps are generated per FONT, not per document), and
# materializing a full-width bfrange is ~65 K dict entries — profiled
# at 97% of a Type0 page's extraction. The parse is a pure function of
# the stream bytes and its result is never mutated (consumers only
# read _FontDec.cmap/lengths), so memoize per worker process — the
# same init-once-per-task class as the AES round-key cache
# (optimization r10, guide §4.5). Bounded: only streams ≤1 MiB, at
# most 32 distinct.
_CMAP_CACHE: dict[bytes, tuple] = {}


def _parse_cmap(data: bytes):
    """ToUnicode CMap → (code→str map, sorted code byte-lengths)."""
    hit = _CMAP_CACHE.get(data)
    if hit is not None:
        return hit
    lex = _Lex(data)
    cmap: dict[int, str] = {}
    lengths: set[int] = set()

    def u16(bs: bytes) -> str:
        try:
            return bs.decode("utf-16-be")
        except UnicodeDecodeError:
            return "�"

    stack: list = []
    while not lex.at_end():
        try:
            tok = _parse_object(lex)
        except ValueError:
            break
        if isinstance(tok, _Kw):
            if tok == "begincodespacerange":
                while True:
                    a = _parse_object(lex)
                    if isinstance(a, _Kw):
                        break
                    b2 = _parse_object(lex)
                    if isinstance(a, bytes):
                        lengths.add(len(a))
                    del b2
            elif tok == "beginbfchar":
                while True:
                    src = _parse_object(lex)
                    if isinstance(src, _Kw):
                        break
                    dst = _parse_object(lex)
                    if isinstance(src, bytes) and isinstance(dst, bytes):
                        cmap[int.from_bytes(src, "big")] = u16(dst)
                        lengths.add(len(src))
            elif tok == "beginbfrange":
                while True:
                    lo = _parse_object(lex)
                    if isinstance(lo, _Kw):
                        break
                    hi = _parse_object(lex)
                    dst = _parse_object(lex)
                    if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                        continue
                    lengths.add(len(lo))
                    lo_i = int.from_bytes(lo, "big")
                    hi_i = min(int.from_bytes(hi, "big"), lo_i + 65535)
                    if isinstance(dst, list):
                        for k, d in enumerate(dst):
                            if lo_i + k > hi_i:
                                break
                            if isinstance(d, bytes):
                                cmap[lo_i + k] = u16(d)
                    elif isinstance(dst, bytes):
                        base = int.from_bytes(dst, "big")
                        nb = max(len(dst), 2)
                        if nb == 2 and base + (hi_i - lo_i) <= 0xFFFF:
                            # fast path: every value is one 2-byte
                            # UTF-16-BE unit — decode is chr(val),
                            # except lone surrogates which
                            # UnicodeDecodeError into the same "�"
                            # (bit-identical to u16 below)
                            for k in range(hi_i - lo_i + 1):
                                val = base + k
                                cmap[lo_i + k] = (
                                    "�" if 0xD800 <= val <= 0xDFFF
                                    else chr(val))
                            continue
                        for k in range(hi_i - lo_i + 1):
                            val = base + k
                            # widen per value: a range like
                            # <20><7E> -> <FFFE> legally crosses the
                            # declared byte width (review find, r9 —
                            # was an uncaught OverflowError)
                            w2 = max(nb,
                                     -(-val.bit_length() // 16) * 2)
                            cmap[lo_i + k] = u16(
                                val.to_bytes(w2, "big"))
            stack.clear()
        else:
            stack.append(tok)
    out = (cmap, sorted(lengths) or [2])
    if len(data) <= (1 << 20) and len(_CMAP_CACHE) < 32:
        _CMAP_CACHE[data] = out
    return out


class _FontDec:
    """Per-font byte-string → unicode decoder."""

    __slots__ = ("table", "cmap", "lengths", "simple")

    def __init__(self, table=None, cmap=None, lengths=None,
                 simple=True):
        self.table = table or {}
        self.cmap = cmap
        self.lengths = lengths or [1 if simple else 2]
        self.simple = simple

    def decode(self, bs: bytes) -> str:
        if self.simple:
            t = self.table
            cm = self.cmap
            out = []
            for c in bs:
                if cm is not None and c in cm:
                    out.append(cm[c])
                elif c in t:
                    out.append(t[c])
                elif 32 <= c <= 126:
                    out.append(chr(c))               # lenient fallback
                else:
                    out.append("�")
            return "".join(out)
        # composite: consume the shortest declared code length greedily
        cm = self.cmap or {}
        ln = self.lengths
        out = []
        pos = 0
        n = len(bs)
        while pos < n:
            hit = None
            for w in ln:
                if pos + w > n:
                    continue
                code = int.from_bytes(bs[pos:pos + w], "big")
                if code in cm:
                    hit = (cm[code], w)
                    break
            if hit is None:
                w = ln[-1] if pos + ln[-1] <= n else 1
                code = int.from_bytes(bs[pos:pos + w], "big")
                hit = (chr(code) if 32 <= code < 0xD800 else "�", w)
            out.append(hit[0])
            pos += hit[1]
        return "".join(out)


# --------------------------------------------------------------- document

_OBJ_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")


class _Doc:
    """Parsed PDF document: xref map + object cache + trailer."""

    def __init__(self, b: bytes):
        if len(b) > MAX_PDF_BYTES:
            raise ValueError("PDF payload exceeds the byte budget")
        # the %PDF header may sit after up to 1024 junk bytes; all
        # file offsets are relative to it (ISO 32000-1 §7.5.2)
        base = b.find(b"%PDF-", 0, 1024)
        if base < 0:
            raise ValueError("not a PDF (no %PDF- header)")
        self.b = b[base:] if base else b
        self.version = self.b[5:8].decode("latin-1", "replace")
        self.budget = [0]                   # decoded bytes, doc-wide
        self.xref: dict[int, tuple] = {}    # num → (1, offset) | (2, stm, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._loading: set[int] = set()
        try:
            self._load_xref_chain()
        except ValueError:
            self.xref, self.trailer = {}, {}
        if not self.xref or "Root" not in self.trailer:
            self._scan_fallback()
        self._crypt_key = None
        self._crypt_cfm = "rc4"
        if "Encrypt" in self.trailer:
            self._setup_encryption()

    def _setup_encryption(self):
        """Standard security with an EMPTY user password — the
        overwhelmingly common 'permissions-only' encryption on real
        crawled PDFs — decrypts transparently: RC4 V1/V2 (R2/R3),
        V4 crypt filters (/CFM /V2 RC4 or /AESV2 AES-128-CBC,
        ISO 32000-1 §7.6.3-7.6.5) and V5 AES-256 (/AESV3, R5/R6,
        ISO 32000-2 §7.6.4, SHA-2 hash chain). Custom handlers,
        per-stream crypt filters beyond /StdCF//Identity, and a real
        (non-empty) user password stay skippable honest gates."""
        enc = self.resolve(self.trailer["Encrypt"])
        if not isinstance(enc, dict):
            raise ValueError("encrypted PDF — malformed /Encrypt")
        enc = {k: self.resolve(v) for k, v in enc.items()}
        if str(self.resolve(enc.get("Filter", ""))) != "Standard":
            raise ValueError(
                "encrypted PDF — non-Standard security handler")
        v = _as_int(enc.get("V", 0) or 0, "/Encrypt /V")
        r = _as_int(enc.get("R", 2) or 2, "/Encrypt /R")
        self._crypt_cfm = "rc4"
        if v in (1, 2) and r in (2, 3):
            pass                                     # classic RC4
        elif v == 4 and r == 4:
            self._crypt_cfm = self._v4_cfm(enc)
        elif v == 5 and r in (5, 6):
            self._crypt_cfm = "aes256"
            self._crypt_key = self._v5_file_key(enc, r)
            return
        else:
            raise ValueError(
                "encrypted PDF — unsupported /Encrypt V/R "
                f"({v}/{r})")
        ids = self.resolve(self.trailer.get("ID"))
        id0 = (bytes(ids[0]) if isinstance(ids, list) and ids
               and isinstance(ids[0], bytes) else b"")
        key = _std_file_key(enc, id0)
        if not _std_user_check(enc, id0, key):
            raise ValueError("password-protected PDF — empty user "
                             "password rejected")
        self._crypt_key = key

    def _v4_cfm(self, enc: dict) -> str:
        """V4 crypt-filter mode: /CF maps names to filters; /StmF and
        /StrF select the default (ISO 32000-1 §7.6.5). Only the
        uniform /StdCF (or /Identity) layout is supported — mixed
        per-stream filters are an honest gate."""
        stmf = str(enc.get("StmF", "Identity"))
        strf = str(enc.get("StrF", "Identity"))
        if stmf != strf:
            raise ValueError(
                "encrypted PDF — split /StmF vs /StrF crypt filters")
        if stmf == "Identity":
            return "identity"
        cf = self.resolve(enc.get("CF"))
        if not isinstance(cf, dict) or stmf not in cf:
            raise ValueError("encrypted PDF — missing /CF entry")
        cfd = self.resolve(cf[stmf])
        if not isinstance(cfd, dict):
            raise ValueError("encrypted PDF — malformed crypt filter")
        cfm = str(self.resolve(cfd.get("CFM", "")))
        if cfm == "V2":
            return "rc4"
        if cfm == "AESV2":
            return "aesv2"
        raise ValueError(f"encrypted PDF — unsupported /CFM {cfm}")

    def _v5_file_key(self, enc: dict, r: int) -> bytes:
        """AES-256 (R5 legacy / R6): validate the EMPTY user password
        against /U's hash+validation-salt, then unwrap the file key
        from /UE (ISO 32000-2 §7.6.4.3.3, 'algorithm 2.A')."""
        import hashlib

        from meza_spark.llm.aes import aes_cbc_decrypt, aes_ecb_decrypt

        u_raw = enc.get("U", b"")
        ue_raw = enc.get("UE", b"")
        if not (isinstance(u_raw, (bytes, bytearray)) and len(u_raw) >= 48
                and isinstance(ue_raw, (bytes, bytearray))
                and len(ue_raw) >= 32):
            raise ValueError("bad PDF /Encrypt /U or /UE entry")
        u = bytes(u_raw)
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 6:
            h = _hash_2b(b"", vsalt, b"")
            ik = _hash_2b(b"", ksalt, b"")
        else:                                        # R5 (legacy ext.)
            h = hashlib.sha256(vsalt).digest()
            ik = hashlib.sha256(ksalt).digest()
        if h != u[:32]:
            raise ValueError("password-protected PDF — empty user "
                             "password rejected")
        key = aes_cbc_decrypt(ik, b"\x00" * 16, bytes(ue_raw)[:32])
        perms = enc.get("Perms")
        if isinstance(perms, (bytes, bytearray)) and len(perms) >= 16:
            dec = aes_ecb_decrypt(key, bytes(perms)[:16])
            if dec[9:12] != b"adb":
                raise ValueError("encrypted PDF — /Perms check failed")
        return key

    # -------------------------------------------------- xref parsing

    def _load_xref_chain(self):
        tail = self.b[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("PDF without startxref")
        seen = set()
        queue = [int(m.group(1))]
        while queue:
            off = queue.pop(0)
            if off in seen or not 0 <= off < len(self.b):
                continue
            seen.add(off)
            lex = _Lex(self.b, off)
            lex.skip_ws()
            if self.b[lex.pos:lex.pos + 4] == b"xref":
                trailer = self._parse_xref_table(lex)
            else:
                trailer = self._parse_xref_stream(off)
            for key in ("Root", "Info", "Encrypt", "Size", "ID"):
                if key in trailer and key not in self.trailer:
                    self.trailer[key] = trailer[key]
            # hybrid-reference: the table's trailer points at a
            # supplementary xref STREAM carrying the type-2 entries
            if "XRefStm" in trailer:
                queue.append(_as_int(trailer["XRefStm"], "/XRefStm"))
            if "Prev" in trailer:
                queue.append(_as_int(trailer["Prev"], "/Prev"))

    def _parse_xref_table(self, lex: _Lex) -> dict:
        lex.pos += 4                                 # past 'xref'
        while True:
            lex.skip_ws()
            if self.b[lex.pos:lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = _parse_object(lex)
                if not isinstance(t, dict):
                    raise ValueError("PDF trailer is not a dict")
                return t
            first = _parse_object(lex)
            count = _parse_object(lex)
            if not isinstance(first, int) or not isinstance(count, int) \
                    or count < 0 or first < 0 \
                    or first + count > MAX_OBJECTS:
                raise ValueError("bad PDF xref subsection header")
            lex.skip_ws()
            for i in range(count):
                ent = self.b[lex.pos:lex.pos + 20]
                if len(ent) < 18:
                    raise ValueError("truncated PDF xref entry")
                off10, gen5, typ = ent[:10], ent[11:16], ent[17:18]
                num = first + i
                if typ == b"n" and num not in self.xref:
                    self.xref[num] = (1, int(off10))
                # free ('f') entries: absent object
                # entries are fixed 20 bytes (18 + 2-byte EOL), but
                # tolerate 19-byte single-EOL writers by resyncing
                lex.pos += 20
                if self.b[lex.pos - 1:lex.pos] not in (b"\r", b"\n", b" "):
                    lex.pos -= 1

    def _parse_xref_stream(self, off: int) -> dict:
        m = _OBJ_RE.match(self.b, off)
        if m is None:
            # offsets may drift by leading whitespace
            lex0 = _Lex(self.b, off)
            lex0.skip_ws()
            m = _OBJ_RE.match(self.b, lex0.pos)
            if m is None:
                raise ValueError("PDF xref offset points at no object")
        d, data = self._parse_stream_at(m.end())
        if str(d.get("Type", "")) != "XRef":
            raise ValueError("PDF xref stream has wrong /Type")
        w = d.get("W")
        if not (isinstance(w, list) and len(w) >= 3
                and all(isinstance(x, int) and 0 <= x <= 8 for x in w)):
            raise ValueError("bad PDF xref stream /W")
        w1, w2, w3 = w[:3]
        size = _as_int(d.get("Size", 0), "xref /Size")
        index = d.get("Index", [0, size])
        if not isinstance(index, list) or len(index) % 2:
            raise ValueError("bad PDF xref stream /Index")
        index = [_as_int(x, "xref /Index entry") for x in index]
        rw = w1 + w2 + w3
        if rw == 0:
            raise ValueError("empty PDF xref stream row")
        pos = 0
        for k in range(0, len(index), 2):
            first, count = index[k], index[k + 1]
            if count < 0 or first < 0 or first + count > MAX_OBJECTS:
                raise ValueError("bad PDF xref stream subsection")
            for i in range(count):
                row = data[pos:pos + rw]
                pos += rw
                if len(row) < rw:
                    return d                 # tolerate short last rows
                f1 = int.from_bytes(row[:w1], "big") if w1 else 1
                f2 = int.from_bytes(row[w1:w1 + w2], "big")
                f3 = int.from_bytes(row[w1 + w2:rw], "big")
                num = first + i
                if num in self.xref:
                    continue
                if f1 == 1:
                    self.xref[num] = (1, f2)
                elif f1 == 2:
                    self.xref[num] = (2, f2, f3)
                # type 0 (free) and unknown types: absent
        return d

    def _scan_fallback(self):
        """Recovery path: find every `N G obj` in the raw bytes; the
        LAST definition of each object number wins (incremental
        updates append)."""
        for m in _OBJ_RE.finditer(self.b):
            # reject matches inside streams heuristically: object
            # headers begin at a line start in real writers
            s = m.start()
            if s > 0 and self.b[s - 1:s] not in b"\r\n \t":
                continue
            self.xref[int(m.group(1))] = (1, s)
        if "Root" not in self.trailer:
            for m in re.finditer(rb"/Root\s+(\d+)\s+(\d+)\s+R", self.b):
                self.trailer["Root"] = _Ref(int(m.group(1)),
                                            int(m.group(2)))
        if "Info" not in self.trailer:
            for m in re.finditer(rb"/Info\s+(\d+)\s+(\d+)\s+R", self.b):
                self.trailer["Info"] = _Ref(int(m.group(1)),
                                            int(m.group(2)))
        if "Root" not in self.trailer:
            # last resort: any /Type /Catalog object
            for num in self.xref:
                try:
                    o = self.load(num)
                except ValueError:
                    continue
                if isinstance(o, dict) and str(o.get("Type")) == "Catalog":
                    self.trailer["Root"] = _Ref(num, 0)
                    break
        m = re.search(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R", self.b)
        if m and "Encrypt" not in self.trailer:
            self.trailer["Encrypt"] = _Ref(int(m.group(1)),
                                           int(m.group(2)))

    # ------------------------------------------------ object loading

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, _Ref):
            if depth > _MAX_DEPTH:
                raise ValueError("PDF reference chain too deep")
            obj = self.load(obj.num)
            depth += 1
        return obj

    def load(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self._loading:
            raise ValueError("PDF object reference cycle")
        ent = self.xref.get(num)
        if ent is None:
            return None
        self._loading.add(num)
        try:
            if ent[0] == 1:
                obj = self._load_at(ent[1], num)
            else:
                obj = self._load_from_objstm(ent[1], ent[2], num)
        finally:
            self._loading.discard(num)
        self._cache[num] = obj
        return obj

    def _load_at(self, off: int, want_num: int):
        if not 0 <= off < len(self.b):
            raise ValueError("PDF xref offset out of range")
        m = _OBJ_RE.match(self.b, off)
        if m is None:
            lex0 = _Lex(self.b, off)
            lex0.skip_ws()
            m = _OBJ_RE.match(self.b, lex0.pos)
        if m is None or int(m.group(1)) != want_num:
            # broken offset — one whole-file rescan, then retry
            if not getattr(self, "_rescanned", False):
                self._rescanned = True
                saved_root = self.trailer.get("Root")
                self._scan_fallback()
                if saved_root is not None:
                    self.trailer["Root"] = saved_root
                ent = self.xref.get(want_num)
                if ent and ent[0] == 1 and ent[1] != off:
                    return self._load_at(ent[1], want_num)
            raise ValueError("PDF object not at its xref offset")
        lex = _Lex(self.b, m.end())
        obj = _parse_object(lex)
        lex.skip_ws()
        dec = self._obj_cipher(want_num, int(m.group(2)))
        if self.b[lex.pos:lex.pos + 6] == b"stream":
            if not isinstance(obj, dict):
                raise ValueError("PDF stream without a dict")
            data = self._read_stream_data(lex, obj)
            if dec is not None:
                # streams are encrypted AFTER filter encoding, so
                # decrypt the stored bytes before _apply_filters runs
                obj = _decrypt_obj(obj, dec)
                data = dec(data)
            return _Stream(obj, data)
        return obj if dec is None else _decrypt_obj(obj, dec)

    def _obj_cipher(self, num: int, gen: int):
        """Per-object decryptor for the document's crypt mode, or
        None when the document is unencrypted (or /Identity). RC4
        and AESV2 derive a per-object key (algorithm 1, with the
        AES 'sAlT' suffix); AES-256 uses the file key directly."""
        key = getattr(self, "_crypt_key", None)
        if key is None:
            return None
        cfm = getattr(self, "_crypt_cfm", "rc4")
        if cfm == "identity":
            return None
        if cfm == "rc4":
            okey = _obj_key(key, num, gen)
            return lambda d: _rc4(okey, d)
        if cfm == "aesv2":
            okey = _obj_key(key, num, gen, aes=True)
        else:                                        # aes256
            okey = key
        return lambda d: _aes_payload_decrypt(okey, d)

    def _parse_stream_at(self, pos: int):
        """Parse `<<dict>> stream..endstream` at pos (xref streams,
        before the object loader is usable). Returns (dict, DECODED)."""
        lex = _Lex(self.b, pos)
        d = _parse_object(lex)
        if not isinstance(d, dict):
            raise ValueError("expected a PDF stream dict")
        lex.skip_ws()
        if self.b[lex.pos:lex.pos + 6] != b"stream":
            raise ValueError("expected a PDF stream")
        raw = self._read_stream_data(lex, d)
        return d, _apply_filters(raw, d.get("Filter"),
                                 d.get("DecodeParms"), self.budget)

    def _read_stream_data(self, lex: _Lex, d: dict) -> bytes:
        lex.pos += 6                                 # past 'stream'
        if self.b[lex.pos:lex.pos + 2] == b"\r\n":
            lex.pos += 2
        elif self.b[lex.pos:lex.pos + 1] in (b"\n", b"\r"):
            lex.pos += 1
        ln = d.get("Length")
        if isinstance(ln, _Ref):
            ln = self.resolve(ln)
        start = lex.pos
        if isinstance(ln, int) and 0 <= ln <= len(self.b) - start:
            cand = self.b[start:start + ln]
            after = self.b[start + ln:start + ln + 20]
            if re.match(rb"\s*endstream", after):
                return cand
        # /Length wrong or indirect-unresolvable: scan for endstream
        e = self.b.find(b"endstream", start)
        if e < 0:
            raise ValueError("PDF stream without endstream")
        data = self.b[start:e]
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data.endswith(b"\n") or data.endswith(b"\r"):
            data = data[:-1]
        return data

    def _load_from_objstm(self, stm_num: int, idx: int, want: int):
        stm = self.load(stm_num)
        if not isinstance(stm, _Stream):
            raise ValueError("PDF ObjStm entry points at a non-stream")
        d = stm.dict
        if str(d.get("Type", "")) != "ObjStm":
            raise ValueError("PDF ObjStm entry has wrong /Type")
        data = self.stream_data(stm)
        n = _as_int(self.resolve(d.get("N", 0)) or 0, "ObjStm /N")
        first = _as_int(self.resolve(d.get("First", 0)) or 0,
                        "ObjStm /First")
        if not (0 <= idx < n <= 100_000) or not 0 <= first <= len(data):
            raise ValueError("bad PDF ObjStm layout")
        lex = _Lex(data, 0, first)
        pairs = []
        for _ in range(n):
            num = _parse_object(lex)
            off = _parse_object(lex)
            if not isinstance(num, int) or not isinstance(off, int):
                raise ValueError("bad PDF ObjStm header pair")
            pairs.append((num, off))
        num, off = pairs[idx]
        if num != want:
            # tolerate a shifted index by searching the header pairs
            for num2, off2 in pairs:
                if num2 == want:
                    off = off2
                    break
            else:
                raise ValueError("object missing from its ObjStm")
        if not 0 <= first + off <= len(data):
            raise ValueError("bad PDF ObjStm offset")
        return _parse_object(_Lex(data, first + off))

    def stream_data(self, stm: "_Stream") -> bytes:
        if stm.decoded is None:
            parms = self.resolve(stm.dict.get("DecodeParms"))
            if isinstance(parms, list):
                # array ENTRIES may be indirect too (review find, r9)
                parms = [self.resolve(x) for x in parms]
            stm.decoded = _apply_filters(
                stm.raw, self.resolve(stm.dict.get("Filter")),
                parms, self.budget)
        return stm.decoded


class _Stream:
    __slots__ = ("dict", "raw", "decoded")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw
        self.decoded = None


# -------------------------------------------------------------- page tree

_INHERITED = ("Resources", "MediaBox", "Rotate", "CropBox")


def _walk_pages(doc: _Doc):
    """Yield (page_dict, inherited_attrs) in document order."""
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF without a document catalog")
    pages = doc.resolve(root.get("Pages"))
    if not isinstance(pages, dict):
        raise ValueError("PDF catalog without a page tree")
    count = 0
    seen: set[int] = set()

    def rec(node, inh, depth):
        nonlocal count
        if depth > _MAX_DEPTH:
            raise ValueError("PDF page tree too deep")
        node_d = doc.resolve(node)
        if not isinstance(node_d, dict):
            return
        if isinstance(node, _Ref):
            if node.num in seen:
                raise ValueError("PDF page tree cycle")
            seen.add(node.num)
        inh = dict(inh)
        for k in _INHERITED:
            if k in node_d:
                inh[k] = node_d[k]
        typ = str(node_d.get("Type", ""))
        kids = node_d.get("Kids")
        if typ == "Page" or (typ != "Pages" and kids is None):
            count += 1
            if count > MAX_PAGES:
                raise ValueError("PDF exceeds the page-count budget")
            yield (node_d, inh)
            return
        for kid in doc.resolve(kids) or []:
            yield from rec(kid, inh, depth + 1)

    yield from rec(pages, {}, 0)


# ------------------------------------------------------------------ fonts

def _type1_builtin_encoding(doc: _Doc, fd: dict) -> dict | None:
    """Classic Type1 (``/FontFile``) programs carry their builtin
    encoding in the CLEARTEXT part before ``eexec`` as ``dup N
    /glyphname put`` lines — the only encoding source for TeX CM
    fonts, which ship with no PDF-level /Encoding at all (both
    system pdfTeX fixtures). CFF/TrueType programs are binary and
    skipped; their text fonts virtually always carry /Encoding or
    /ToUnicode instead."""
    desc = doc.resolve(fd.get("FontDescriptor"))
    if not isinstance(desc, dict):
        return None
    ff = doc.resolve(desc.get("FontFile"))
    if not isinstance(ff, _Stream):
        return None
    try:
        clear = doc.stream_data(ff).split(b"eexec", 1)[0]
    except ValueError:
        return None
    if b"/Encoding" not in clear:
        return None
    out = {}
    for m in re.finditer(rb"dup\s+(\d+)\s*/([^\s/(){}\[\]<>]+)\s+put",
                         clear):
        code = int(m.group(1))
        if 0 <= code <= 255:
            ch = _glyph_to_char(m.group(2).decode("latin-1"))
            if ch is not None:
                out[code] = ch
    return out or None


def _build_font(doc: _Doc, fd: dict) -> _FontDec:
    fd = doc.resolve(fd)
    if not isinstance(fd, dict):
        return _FontDec()
    subtype = str(fd.get("Subtype", ""))
    cmap = lengths = None
    tu = doc.resolve(fd.get("ToUnicode"))
    if isinstance(tu, _Stream):
        try:
            cmap, lengths = _parse_cmap(doc.stream_data(tu))
        except ValueError:
            cmap = lengths = None
    if subtype == "Type0":
        return _FontDec(cmap=cmap, lengths=lengths, simple=False)
    enc = doc.resolve(fd.get("Encoding"))
    base = "StandardEncoding"
    diffs = None
    if isinstance(enc, _Name):
        base = str(enc)
    elif isinstance(enc, dict):
        if "BaseEncoding" in enc:
            base = str(doc.resolve(enc["BaseEncoding"]))
        diffs = doc.resolve(enc.get("Differences"))
    table = _base_table(base if base in (
        "StandardEncoding", "WinAnsiEncoding", "MacRomanEncoding")
        else "StandardEncoding")
    if enc is None:
        builtin = _type1_builtin_encoding(doc, fd)
        if builtin:
            table.update(builtin)
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = doc.resolve(item)
            if isinstance(item, int):
                code = item
            elif isinstance(item, _Name) and 0 <= code <= 255:
                ch = _glyph_to_char(str(item))
                if ch is not None:
                    table[code] = ch
                else:
                    table.pop(code, None)
                code += 1
    return _FontDec(table=table, cmap=cmap, simple=True)


# ------------------------------------------------------ content streams

def _page_content(doc: _Doc, page: dict, inh: dict) -> bytes:
    contents = doc.resolve(page.get("Contents"))
    parts = []
    if isinstance(contents, _Stream):
        parts.append(doc.stream_data(contents))
    elif isinstance(contents, list):
        for c in contents:
            c = doc.resolve(c)
            if isinstance(c, _Stream):
                parts.append(doc.stream_data(c))
    return b"\n".join(parts)


def _interp_text(doc: _Doc, content: bytes, resources, out: list,
                 depth: int = 0):
    """Run the text-relevant subset of the content-stream machine,
    appending decoded text (with newline/space assembly) to `out`."""
    if depth > 8:
        return
    resources = doc.resolve(resources) or {}
    fonts_d = doc.resolve(resources.get("Font")) or {}
    xobjs_d = doc.resolve(resources.get("XObject")) or {}
    font_cache: dict[str, _FontDec] = {}
    cur: _FontDec | None = None
    leading = 0.0
    cur_y = None              # text-space y of the current line
    cur_x = 0.0
    lex = _Lex(content)
    stack: list = []
    gs_depth = 0

    def newline():
        if out and not out[-1].endswith("\n"):
            out.append("\n")

    def show(s):
        if isinstance(s, bytes):
            dec = cur if cur is not None else _FontDec()
            out.append(dec.decode(s))

    while True:
        lex.skip_ws()
        if lex.pos >= lex.end:
            break
        try:
            tok = _parse_object(lex)
        except ValueError:
            break
        if not isinstance(tok, _Kw):
            stack.append(tok)
            if len(stack) > 64:
                del stack[:-16]
            continue
        op = str(tok)
        try:
            if op == "Tf" and len(stack) >= 2:
                name = stack[-2]
                key = str(name)
                if key not in font_cache:
                    font_cache[key] = _build_font(
                        doc, fonts_d.get(key, {}))
                cur = font_cache[key]
            elif op == "Tj" and stack:
                show(stack[-1])
            elif op == "'" and stack:
                newline()
                show(stack[-1])
            elif op == '"' and len(stack) >= 3:
                newline()
                show(stack[-1])
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        show(el)
                    elif isinstance(el, (int, float)) \
                            and el <= -_TJ_SPACE_GAP:
                        if out and not out[-1].endswith((" ", "\n")):
                            out.append(" ")
            elif op in ("Td", "TD") and len(stack) >= 2:
                tx, ty = stack[-2], stack[-1]
                if isinstance(ty, (int, float)) and ty != 0:
                    newline()
                    cur_y = (cur_y or 0.0) - float(ty)
                if op == "TD" and isinstance(ty, (int, float)):
                    leading = -float(ty)
                if isinstance(tx, (int, float)):
                    cur_x += float(tx)
            elif op == "Tm" and len(stack) >= 6:
                f = stack[-1]
                if isinstance(f, (int, float)):
                    if cur_y is not None and float(f) != cur_y:
                        newline()
                    cur_y = float(f)
            elif op == "T*":
                newline()
            elif op == "TL" and stack and isinstance(
                    stack[-1], (int, float)):
                leading = float(stack[-1])
            elif op == "BT":
                cur_y = None
                cur_x = 0.0
            elif op == "ET":
                pass
            elif op == "Do" and stack and isinstance(stack[-1], _Name):
                xo = doc.resolve(xobjs_d.get(str(stack[-1])))
                if isinstance(xo, _Stream) and \
                        str(xo.dict.get("Subtype", "")) == "Form":
                    try:
                        _interp_text(doc, doc.stream_data(xo),
                                     xo.dict.get("Resources", resources),
                                     out, depth + 1)
                    except ValueError:
                        pass
            elif op == "BI":
                # inline image: skip to `EI` bounded by whitespace
                m = re.search(rb"\sEI(?=[\s\x00]|$)",
                              content[lex.pos:])
                if m is None:
                    break
                lex.pos += m.end()
            elif op == "q":
                gs_depth += 1
            elif op == "Q":
                gs_depth = max(0, gs_depth - 1)
            # every other operator (paths, color, marked content,
            # cm, gs, ...) carries no text — operands just drop
        except (ValueError, TypeError, IndexError):
            pass
        stack.clear()


# ------------------------------------------------------------- public API

def extract_pdf_bytes(b: bytes, max_pages: int | None = None) -> dict:
    """Parse a PDF and extract its text → dict with ``version``,
    ``n_pages``, ``title``, ``producer``, ``text`` (pages joined by
    newlines; in-page line moves also newline). Raises skippable
    ``ValueError`` on encrypted/undecodable documents."""
    doc = _Doc(b)
    info = doc.resolve(doc.trailer.get("Info"))
    title = producer = None
    if isinstance(info, dict):
        for key, slot in (("Title", "title"), ("Producer", "producer")):
            v = doc.resolve(info.get(key))
            if isinstance(v, bytes):
                v = _pdf_text_string(v)
                if slot == "title":
                    title = v
                else:
                    producer = v
    pages_out: list[str] = []
    n_pages = 0
    for page, inh in _walk_pages(doc):
        n_pages += 1
        if max_pages is not None and n_pages > max_pages:
            continue        # still count, stop extracting
        out: list[str] = []
        try:
            content = _page_content(doc, page, inh)
            _interp_text(doc, content, inh.get("Resources"), out)
        except ValueError:
            pass            # page-local damage stays page-local
        pages_out.append("".join(out).strip("\n"))
    return {
        "version": doc.version,
        "n_pages": n_pages,
        "title": title,
        "producer": producer,
        "text": "\n".join(pages_out),
    }


def _pdf_text_string(v: bytes) -> str:
    """PDF text-string decoding: UTF-16BE with BOM, else PDFDocEncoded
    (≈ latin-1 for the printable range)."""
    if v[:2] == b"\xfe\xff":
        try:
            return v[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return v[2:].decode("latin-1", "replace")
    if v[:3] == b"\xef\xbb\xbf":
        return v[3:].decode("utf-8", "replace")
    return v.decode("latin-1")


def pdf_headers(b: bytes) -> dict:
    """Header-only PDF metadata for parse_media_headers: version plus
    first-page MediaBox dims in points (w/h), lenient everywhere."""
    out = {"format": "pdf", "width": None, "height": None}
    try:
        doc = _Doc(b)
        for page, inh in _walk_pages(doc):
            mb = doc.resolve(inh.get("MediaBox"))
            if isinstance(mb, list) and len(mb) == 4:
                x0, y0, x1, y1 = (float(doc.resolve(v)) for v in mb)
                out["width"] = int(round(abs(x1 - x0)))
                out["height"] = int(round(abs(y1 - y0)))
            break
    except (ValueError, TypeError, struct.error):
        pass
    return out


# ------------------------------------------------------- fixture encoder

def _esc_literal(s: bytes) -> bytes:
    out = bytearray()
    for c in s:
        if c in b"()\\":
            out += b"\\" + bytes([c])
        elif 32 <= c <= 126:
            out.append(c)
        else:
            out += b"\\%03o" % c
        # octal keeps every byte visible-ASCII → the writer's output
        # stays greppable and the literal-string escape path is
        # exercised by any non-ASCII fixture byte
    return bytes(out)


def _enc_stream(data: bytes, flt: str) -> tuple[bytes, bytes]:
    """Encode stream data with one named filter → (payload, /Filter
    fragment)."""
    import base64
    import binascii

    if flt == "none":
        return data, b""
    if flt == "flate":
        return zlib.compress(data), b"/Filter /FlateDecode"
    if flt == "ahx":
        return (binascii.hexlify(data) + b">",
                b"/Filter /ASCIIHexDecode")
    if flt == "a85":
        enc = base64.a85encode(data, adobe=True)     # <~...~>
        return enc[2:], b"/Filter /ASCII85Decode"    # PDF omits '<~'
    if flt == "rle":
        from meza_spark.llm.multimodal import _packbits_encode
        return (_packbits_encode(data) + b"\x80",
                b"/Filter /RunLengthDecode")
    if flt == "lzw":
        from meza_spark.llm.multimodal import _tiff_lzw_encode
        return _tiff_lzw_encode(data), b"/Filter /LZWDecode"
    raise ValueError(f"unknown fixture filter {flt!r}")


def encode_pdf(pages, *, stream_filter: str = "none",
               xref_stream: bool = False, use_objstm: bool = False,
               font: str = "winansi", kern: bool = False,
               title: str | None = None,
               producer: str = "meza_spark", version: str = "1.4",
               length_indirect: bool = False,
               encrypt: str | None = None,
               owner_password: bytes = b"owner") -> bytes:
    """Spec-built PDF able to force every decoder path (the
    encode_flac of this module): ``pages`` is a list of page texts
    (embedded ``\\n`` become in-page line moves). Options cycle the
    stream filter, classic-table vs xref-STREAM cross references,
    object-stream packing, the font/charmap flavor (``winansi``,
    ``standard``, ``differences`` — a/b code swap, ``tounicode`` —
    Type0 Identity-H with a bfrange CMap), TJ-kerned spaces, and an
    indirect /Length."""
    if use_objstm and not xref_stream:
        raise ValueError("ObjStm packing requires an xref stream")
    if isinstance(pages, str):
        pages = [pages]
    n = len(pages)

    # standard security (permissions-only: empty USER password, so
    # readers decrypt transparently — the common real-corpus shape)
    key = id0 = enc_body = None
    cfm = "rc4"
    p_perms = -44                                    # deny print/modify
    if encrypt in ("rc4-40", "rc4-128", "aesv2"):
        import hashlib

        r, klen = {"rc4-40": (2, 5), "rc4-128": (3, 16),
                   "aesv2": (4, 16)}[encrypt]
        id0 = hashlib.md5(("\x00".join(pages) + version)
                          .encode("utf-8", "replace")).digest()
        ok = hashlib.md5((owner_password + _PAD)[:32]).digest()
        if r >= 3:
            for _ in range(50):
                ok = hashlib.md5(ok).digest()
        ok = ok[:klen]
        o_ent = _rc4(ok, _PAD)                       # empty user pwd pad
        if r >= 3:
            for i in range(1, 20):
                o_ent = _rc4(bytes(b ^ i for b in ok), o_ent)
        key = _std_file_key({"R": r, "Length": klen * 8, "O": o_ent,
                             "P": p_perms}, id0)
        if r == 2:
            u_ent = _rc4(key, _PAD)
        else:
            x = hashlib.md5(_PAD + id0).digest()
            x = _rc4(key, x)
            for i in range(1, 20):
                x = _rc4(bytes(b ^ i for b in key), x)
            u_ent = x + b"\x00" * 16
        if encrypt == "aesv2":
            cfm = "aesv2"
            enc_body = (b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
                        b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
                        b" /StmF /StdCF /StrF /StdCF "
                        b"/O (%s) /U (%s) /P %d >>"
                        % (_esc_literal(o_ent), _esc_literal(u_ent),
                           p_perms))
        else:
            enc_body = (b"<< /Filter /Standard /V %d /R %d /Length %d "
                        b"/O (%s) /U (%s) /P %d >>"
                        % (1 if r == 2 else 2, r, klen * 8,
                           _esc_literal(o_ent), _esc_literal(u_ent),
                           p_perms))
    elif encrypt == "aes256":
        import hashlib

        from meza_spark.llm.aes import aes_cbc_encrypt, aes_ecb_encrypt

        cfm = "aes256"
        id0 = hashlib.md5(("\x00".join(pages) + version)
                          .encode("utf-8", "replace")).digest()
        # deterministic key + salts (fixture: derived, not random)
        key = hashlib.sha256(b"meza-aes256-key" + id0).digest()
        vsalt = hashlib.sha256(b"vs" + id0).digest()[:8]
        ksalt = hashlib.sha256(b"ks" + id0).digest()[:8]
        u_ent = _hash_2b(b"", vsalt, b"") + vsalt + ksalt
        ue_ent = aes_cbc_encrypt(_hash_2b(b"", ksalt, b""),
                                 b"\x00" * 16, key)
        ovs = hashlib.sha256(b"ovs" + id0).digest()[:8]
        oks = hashlib.sha256(b"oks" + id0).digest()[:8]
        o_ent = _hash_2b(owner_password, ovs, u_ent) + ovs + oks
        oe_ent = aes_cbc_encrypt(_hash_2b(owner_password, oks, u_ent),
                                 b"\x00" * 16, key)
        perms = aes_ecb_encrypt(
            key, struct.pack("<i", p_perms) + b"\xff\xff\xff\xffT"
            + b"adbmeza")
        enc_body = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
                    b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
                    b" /StmF /StdCF /StrF /StdCF "
                    b"/O (%s) /U (%s) /OE (%s) /UE (%s) /Perms (%s) "
                    b"/P %d >>"
                    % (_esc_literal(o_ent), _esc_literal(u_ent),
                       _esc_literal(oe_ent), _esc_literal(ue_ent),
                       _esc_literal(perms), p_perms))
    elif encrypt is not None:
        raise ValueError(f"unknown fixture encryption {encrypt!r}")

    def _enc_payload(num: int, data: bytes) -> bytes:
        if key is None:
            return data
        if cfm == "rc4":
            # RC4 preserves length, so /Length stays correct either way
            return _rc4(_obj_key(key, num, 0), data)
        import hashlib

        from meza_spark.llm.aes import aes_cbc_encrypt, pkcs7_pad

        okey = _obj_key(key, num, 0, aes=True) if cfm == "aesv2" else key
        # deterministic per-object IV — fixtures need reproducibility,
        # not confidentiality
        iv = hashlib.md5(b"meza-pdf-iv" + num.to_bytes(4, "big")).digest()
        return iv + aes_cbc_encrypt(okey, iv, pkcs7_pad(data))

    objs: dict[int, bytes] = {}          # num → serialized body
    in_objstm: list[int] = []            # nums packed into the ObjStm

    # object numbering: 1 catalog, 2 pages, 3 font,
    # 4..3+n page dicts, 4+n..3+2n content streams, then extras
    num_cat, num_pages, num_font = 1, 2, 3
    num_page0, num_cont0 = 4, 4 + n
    next_extra = 4 + 2 * n

    kids = b" ".join(b"%d 0 R" % (num_page0 + i) for i in range(n))
    objs[num_cat] = b"<< /Type /Catalog /Pages %d 0 R >>" % num_pages
    objs[num_pages] = (b"<< /Type /Pages /Kids [%s] /Count %d "
                       b"/MediaBox [0 0 612 792] >>" % (kids, n))

    swap = {}
    if font == "winansi":
        objs[num_font] = (b"<< /Type /Font /Subtype /Type1 /BaseFont "
                          b"/Helvetica /Encoding /WinAnsiEncoding >>")
    elif font == "standard":
        objs[num_font] = (b"<< /Type /Font /Subtype /Type1 "
                          b"/BaseFont /Helvetica >>")
    elif font == "differences":
        # swap the byte codes of 'a' and 'b' — extraction must undo it
        objs[num_font] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding << /BaseEncoding /WinAnsiEncoding "
            b"/Differences [97 /b /a] >> >>")
        swap = {ord("a"): ord("b"), ord("b"): ord("a")}
    elif font == "tounicode":
        num_tu = next_extra
        next_extra += 1
        cmap = (b"/CIDInit /ProcSet findresource begin\n"
                b"12 dict begin\nbegincmap\n"
                b"1 begincodespacerange\n<0000> <FFFF>\n"
                b"endcodespacerange\n"
                b"1 beginbfrange\n<0000> <FFFF> <0000>\n"
                b"endbfrange\nendcmap\nend\nend\n")
        cmap = _enc_payload(num_tu, cmap)
        objs[num_tu] = (b"<< /Length %d >>\nstream\n%s\nendstream"
                        % (len(cmap), cmap))
        objs[num_font] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica "
            b"/Encoding /Identity-H /ToUnicode %d 0 R >>" % num_tu)
    else:
        raise ValueError(f"unknown fixture font {font!r}")

    def enc_text(s: str) -> bytes:
        if font == "tounicode":
            return s.encode("utf-16-be")
        bs = s.encode("latin-1")
        if swap:
            bs = bytes(swap.get(c, c) for c in bs)
        return bs

    def show_ops(line: str) -> bytes:
        if font == "tounicode":
            import binascii
            return b"<%s> Tj" % binascii.hexlify(enc_text(line))
        if kern and " " in line:
            segs = line.split(" ")
            arr = b" -333 ".join(
                b"(%s)" % _esc_literal(enc_text(sg)) for sg in segs)
            return b"[%s] TJ" % arr
        return b"(%s) Tj" % _esc_literal(enc_text(line))

    for i, text in enumerate(pages):
        lines = text.split("\n")
        body = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                body.append(b"0 -14 Td")
            body.append(show_ops(line))
        body.append(b"ET")
        content = b"\n".join(body)
        payload, fdecl = _enc_stream(content, stream_filter)
        payload = _enc_payload(num_cont0 + i, payload)
        if length_indirect:
            num_len = next_extra
            next_extra += 1
            objs[num_len] = b"%d" % len(payload)
            ldecl = b"/Length %d 0 R" % num_len
        else:
            ldecl = b"/Length %d" % len(payload)
        objs[num_cont0 + i] = (b"<< %s %s >>\nstream\n%s\nendstream"
                               % (ldecl, fdecl, payload))
        objs[num_page0 + i] = (
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R "
            b"/Resources << /Font << /F1 %d 0 R >> >> >>"
            % (num_pages, num_cont0 + i, num_font))

    num_info = next_extra
    next_extra += 1

    def _info_str(s2: str) -> bytes:
        raw = s2.encode("latin-1")
        # strings inside an object stream are NOT separately
        # encrypted (the whole ObjStm payload is) — ISO 32000-1 §7.5.7
        if key is not None and not use_objstm:
            raw = _enc_payload(num_info, raw)
        return _esc_literal(raw)

    info = b"<< /Producer (%s)" % _info_str(producer)
    if title is not None:
        info += b" /Title (%s)" % _info_str(title)
    info += b" >>"
    objs[num_info] = info
    num_enc = None
    if enc_body is not None:
        num_enc = next_extra
        next_extra += 1
        objs[num_enc] = enc_body

    if use_objstm:
        in_objstm = [num_cat, num_pages, num_info] \
            + [num_page0 + i for i in range(n)]
        if font != "tounicode":
            in_objstm.append(num_font)

    out = bytearray(b"%%PDF-%s\n%%\xe2\xe3\xcf\xd3\n"
                    % version.encode("ascii"))
    offsets: dict[int, int] = {}
    objstm_pos: dict[int, int] = {}      # num → index within ObjStm

    def emit(num: int, body: bytes):
        offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num)
        out.extend(body)
        out.extend(b"\nendobj\n")

    for num in sorted(objs):
        if num in in_objstm:
            continue
        emit(num, objs[num])

    num_objstm = None
    if use_objstm:
        num_objstm = next_extra
        next_extra += 1
        hdr_parts, bodies, off = [], [], 0
        for k, num in enumerate(in_objstm):
            objstm_pos[num] = k
            body = objs[num] + b"\n"
            hdr_parts.append(b"%d %d" % (num, off))
            bodies.append(body)
            off += len(body)
        hdr = b" ".join(hdr_parts) + b"\n"
        stm_data = hdr + b"".join(bodies)
        payload, fdecl = _enc_stream(stm_data, "flate")
        payload = _enc_payload(num_objstm, payload)
        emit(num_objstm, b"<< /Type /ObjStm /N %d /First %d %s "
                         b"/Length %d >>\nstream\n%s\nendstream"
             % (len(in_objstm), len(hdr), fdecl, len(payload), payload))

    tail_extra = b""
    if enc_body is not None:
        import binascii as _ba
        hx = _ba.hexlify(id0)
        tail_extra = (b" /Encrypt %d 0 R /ID [<%s> <%s>]"
                      % (num_enc, hx, hx))
    size = next_extra if not xref_stream else next_extra + 1
    if not xref_stream:
        xref_off = len(out)
        out.extend(b"xref\n0 %d\n" % size)
        out.extend(b"0000000000 65535 f \n")
        for num in range(1, size):
            out.extend(b"%010d 00000 n \n" % offsets.get(num, 0))
        out.extend(b"trailer\n<< /Size %d /Root %d 0 R /Info %d 0 R"
                   b"%s >>\nstartxref\n%d\n%%%%EOF\n"
                   % (size, num_cat, num_info, tail_extra, xref_off))
    else:
        num_x = next_extra
        rows = bytearray()
        rows += b"\x00" + (0).to_bytes(4, "big") + (0).to_bytes(2, "big")
        for num in range(1, size):
            if num in objstm_pos:
                rows += (b"\x02" + num_objstm.to_bytes(4, "big")
                         + objstm_pos[num].to_bytes(2, "big"))
            elif num == num_x:
                rows += (b"\x01" + len(out).to_bytes(4, "big")
                         + (0).to_bytes(2, "big"))
            else:
                rows += (b"\x01" + offsets.get(num, 0).to_bytes(4, "big")
                         + (0).to_bytes(2, "big"))
        payload, fdecl = _enc_stream(bytes(rows), "flate")
        xref_off = len(out)
        emit(num_x, b"<< /Type /XRef /Size %d /W [1 4 2] /Root %d 0 R "
                    b"/Info %d 0 R%s %s /Length %d >>\nstream\n%s\nendstream"
             % (size, num_cat, num_info, tail_extra, fdecl,
                len(payload), payload))
        out.extend(b"startxref\n%d\n%%%%EOF\n" % xref_off)
    return bytes(out)


# ------------------------------------------------------------ spark layer

def pdf_text(df, payload_col: str = "payload",
             id_col: str = "media_id", max_pages: int | None = None):
    """PDF version, page count, title, producer and text (at most
    ``max_pages`` pages) of each payload; rows and ``error`` rows as
    in :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        r = extract_pdf_bytes(b, max_pages=max_pages)
        return [(r["version"], r["n_pages"], r["title"], r["producer"],
                 r["text"], len(r["text"]))]

    return extract_rows(df, fn, "version string, n_pages int, "
                        "title string, producer string, text string, "
                        "n_chars int", payload_col, id_col)


# ------------------------------------------------- standard encryption

# ISO 32000-1 §7.6.3.3 Algorithm-2 padding string (public constant)
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


def _rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (the spec's cipher for V≤2 standard security) — a
    dozen lines of public algorithm, no third-party dependency."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _std_file_key(enc: dict, id0: bytes, password: bytes = b"") -> bytes:
    """Algorithm 2: password → file encryption key (V=1/2, R=2/3)."""
    import hashlib

    r = _as_int(enc.get("R", 2), "/Encrypt /R")
    n = _as_int(enc.get("Length", 40), "/Encrypt /Length") // 8 \
        if r >= 3 else 5
    if not 5 <= n <= 16:
        raise ValueError("bad PDF /Encrypt key length")
    o_raw = enc.get("O", b"")
    if not isinstance(o_raw, (bytes, bytearray)):
        raise ValueError("bad PDF /Encrypt /O entry")
    o = bytes(o_raw)[:32]
    if len(o) < 32:
        raise ValueError("bad PDF /Encrypt /O entry")
    p = _as_int(enc.get("P", 0), "/Encrypt /P") & 0xFFFFFFFF
    extra = b""
    if r >= 4 and enc.get("EncryptMetadata") is False:
        extra = b"\xff\xff\xff\xff"                  # §7.6.3.3 step f
    h = hashlib.md5((password + _PAD)[:32] + o
                    + struct.pack("<I", p) + id0 + extra).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def _std_user_check(enc: dict, id0: bytes, key: bytes) -> bool:
    """Algorithms 4/5: does `key` (derived from the tried password)
    reproduce /U? True ⇒ that password IS the user password."""
    import hashlib

    u_raw = enc.get("U", b"")
    if not isinstance(u_raw, (bytes, bytearray)):
        raise ValueError("bad PDF /Encrypt /U entry")
    u = bytes(u_raw)
    if _as_int(enc.get("R", 2), "/Encrypt /R") == 2:
        return _rc4(key, _PAD) == u[:32]
    x = hashlib.md5(_PAD + id0).digest()
    x = _rc4(key, x)
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return x[:16] == u[:16]


def _obj_key(key: bytes, num: int, gen: int, aes: bool = False) -> bytes:
    """Algorithm 1: per-object key. Object/generation numbers beyond
    their spec widths (24/16 bits) are hostile — skippable
    ValueError, not OverflowError (review find, r9). AESV2 appends
    the spec's 4-byte 'sAlT' marker to the MD5 input."""
    import hashlib

    if not (0 <= num < (1 << 24) and 0 <= gen <= 0xFFFF):
        raise ValueError("PDF object/generation number out of range")
    return hashlib.md5(key + num.to_bytes(3, "little")
                       + gen.to_bytes(2, "little")
                       + (b"sAlT" if aes else b"")).digest()[
                           :min(len(key) + 5, 16)]


def _aes_payload_decrypt(okey: bytes, data: bytes) -> bytes:
    """AESV2/AESV3 payload: 16-byte IV prefix + CBC ciphertext +
    PKCS#7 padding (ISO 32000-1 §7.6.2). Anything shorter than
    IV+one block, or misaligned, is hostile → skippable ValueError."""
    from meza_spark.llm.aes import aes_cbc_decrypt, pkcs7_unpad

    if not data:
        return b""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("bad PDF AES-CBC payload length")
    return pkcs7_unpad(aes_cbc_decrypt(okey, data[:16], data[16:]))


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 §7.6.4.3.4 algorithm 2.B — the R6 password hash:
    an SHA-256/384/512 chain keyed by an AES-128-CBC round, at least
    64 rounds, data-dependent stop."""
    import hashlib

    from meza_spark.llm.aes import aes_cbc_encrypt

    k = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _decrypt_obj(obj, dec):
    """Recursively decrypt every string in a loaded object with the
    per-object cipher (streams handle their raw bytes separately)."""
    if isinstance(obj, bytes):
        return dec(obj)
    if isinstance(obj, list):
        return [_decrypt_obj(v, dec) for v in obj]
    if isinstance(obj, dict):
        return {k: _decrypt_obj(v, dec) for k, v in obj.items()}
    return obj
