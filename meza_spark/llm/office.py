"""Pure-stdlib Office / OpenDocument / EPUB text extraction — the
zip+XML document family that, with PDF and HTML, covers the bulk of
text-bearing files in a real crawl (ref analog: meza's stdlib
container parsers, io.py:598-1118 — same charter, new formats).

* **DOCX** (OOXML WordprocessingML): ``word/document.xml`` — ``w:p``
  paragraphs, ``w:t`` runs, ``w:tab``/``w:br`` controls; title from
  ``docProps/core.xml`` (Dublin Core).
* **PPTX** (PresentationML): ``ppt/slides/slideN.xml`` in numeric
  order — ``a:p`` paragraphs inside ``a:t`` runs; slide boundary =
  blank line.
* **ODT/ODP** (OpenDocument): ``content.xml`` — ``text:p``/``text:h``
  paragraphs, ``text:tab``/``text:line-break``/``text:s`` controls;
  title from ``meta.xml``.
* **EPUB** (OCF): ``META-INF/container.xml`` → OPF rootfile →
  manifest + spine → XHTML spine documents in reading order; title
  from the OPF ``dc:title``.

Every format is a ZIP container; member inspection (not extension)
decides the flavor: ``[Content_Types].xml`` routes OOXML, the
``mimetype`` member routes OCF/ODF. Extraction is budget-gated
BEFORE decompression (declared sizes from the central directory,
same discipline as the PDF/tile-grid inflate caps) so a zip bomb
ValueErrors instead of allocating. Encrypted/exotic members stay
honest gates.

Spark-side: :func:`office_text` — ``util.extract_rows``,
row-local, zero shuffle (the PDF tier's scale shape: at 100 TB it
scales with executor count; one hostile file yields an ``error``
row, never a failed stage).
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
import xml.etree.ElementTree as ET

MAX_DOC_BYTES = 256 * 1024 * 1024       # compressed container cap
MAX_DECOMPRESSED = 512 * 1024 * 1024    # sum of declared member sizes
MAX_MEMBERS = 10_000
MAX_SPINE_DOCS = 2_000

_NS_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_NS_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_NS_DC = "http://purl.org/dc/elements/1.1/"
_NS_ODF_TEXT = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_NS_ODF_META = "urn:oasis:names:tc:opendocument:xmlns:meta:1.0"
_NS_ODF_OFFICE = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_NS_OCF = "urn:oasis:names:tc:opendocument:xmlns:container"
_NS_OPF = "http://www.idpf.org/2007/opf"
_NS_XHTML = "http://www.w3.org/1999/xhtml"


# ----------------------------------------------------------- container

def _open_zip(b: bytes) -> zipfile.ZipFile:
    """Open + budget-gate a zip payload: the central directory's
    DECLARED uncompressed sizes are summed before any member is
    read, so a bomb fails before allocation."""
    if len(b) > MAX_DOC_BYTES:
        raise ValueError("document container exceeds the byte budget")
    try:
        z = zipfile.ZipFile(io.BytesIO(b))
        infos = z.infolist()
    except (zipfile.BadZipFile, OverflowError, NotImplementedError) as e:
        # NotImplementedError: central-directory extract_version /
        # compression fields a hostile mutation can inflate
        raise ValueError(f"bad zip container: {e}") from None
    if len(infos) > MAX_MEMBERS:
        raise ValueError("zip container declares too many members")
    total = 0
    for inf in infos:
        if inf.file_size < 0 or inf.file_size > MAX_DECOMPRESSED:
            raise ValueError("zip member declares a hostile size")
        total += inf.file_size
        if total > MAX_DECOMPRESSED:
            raise ValueError(
                "zip container exceeds the decompressed-size budget")
        if inf.flag_bits & 0x1:
            raise ValueError("encrypted zip member — password archives "
                             "stay an honest gate")
    return z


def _read_member(z: zipfile.ZipFile, name: str) -> bytes:
    """Read one member with the declared size enforced DURING the
    read (a lying local header can't overrun the budget)."""
    import zlib

    try:
        inf = z.getinfo(name)
    except KeyError:
        raise ValueError(f"zip member missing: {name}") from None
    try:
        with z.open(inf) as f:
            data = f.read(inf.file_size + 1)
    except (zipfile.BadZipFile, zlib.error, EOFError, OSError,
            NotImplementedError, OverflowError) as e:
        # lying local headers, truncated/corrupt deflate streams and
        # exotic compression methods are hostile-input shapes, not
        # typed escapes
        raise ValueError(f"bad zip member {name}: {e}") from None
    if len(data) > inf.file_size:
        raise ValueError("zip member larger than its declared size")
    return data


def _parse_xml(data: bytes, what: str) -> ET.Element:
    try:
        return ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError(f"bad {what} XML: {e}") from None


def sniff_zip_doc(b: bytes) -> str:
    """Refine a PK-zip payload into its document flavor by member
    inspection: 'docx' / 'pptx' / 'xlsx' / 'odt' / 'odp' / 'ods' /
    'epub', else 'zip' (a plain archive is not an error)."""
    if b[:4] != b"PK\x03\x04":
        raise ValueError("not a zip container")
    z = _open_zip(b)
    names = set(z.namelist())
    if "mimetype" in names:
        mt = _read_member(z, "mimetype").strip()
        table = {
            b"application/epub+zip": "epub",
            b"application/vnd.oasis.opendocument.text": "odt",
            b"application/vnd.oasis.opendocument.presentation": "odp",
            b"application/vnd.oasis.opendocument.spreadsheet": "ods",
        }
        if mt in table:
            return table[mt]
    if "[Content_Types].xml" in names:
        if "word/document.xml" in names:
            return "docx"
        if "ppt/presentation.xml" in names:
            return "pptx"
        if "xl/workbook.xml" in names:
            return "xlsx"
    # OCF containers may omit the (legal but conventional) mimetype
    if "META-INF/container.xml" in names:
        return "epub"
    if "content.xml" in names:
        return "odt"
    return "zip"


# ---------------------------------------------------------------- docx

def _ooxml_core_title(z: zipfile.ZipFile) -> str | None:
    if "docProps/core.xml" not in z.namelist():
        return None
    root = _parse_xml(_read_member(z, "docProps/core.xml"),
                      "docProps/core.xml")
    el = root.find(f"{{{_NS_DC}}}title")
    return el.text if el is not None and el.text else None


def _w_paragraph_text(p: ET.Element) -> str:
    """One WordprocessingML paragraph: runs in document order —
    w:t text, w:tab → TAB, w:br / w:cr → newline."""
    parts: list[str] = []
    for el in p.iter():
        tag = el.tag
        if tag == f"{{{_NS_W}}}t":
            parts.append(el.text or "")
        elif tag == f"{{{_NS_W}}}tab":
            parts.append("\t")
        elif tag in (f"{{{_NS_W}}}br", f"{{{_NS_W}}}cr"):
            parts.append("\n")
    return "".join(parts)


def extract_docx_bytes(b: bytes) -> dict:
    """DOCX → {text, n_paragraphs, title}. Paragraphs (w:p, including
    those inside table cells, in document order) joined by newlines."""
    z = _open_zip(b)
    root = _parse_xml(_read_member(z, "word/document.xml"),
                      "word/document.xml")
    paras = [_w_paragraph_text(p)
             for p in root.iter(f"{{{_NS_W}}}p")]
    return {"text": "\n".join(paras), "n_paragraphs": len(paras),
            "title": _ooxml_core_title(z)}


# ---------------------------------------------------------------- pptx

_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")


def extract_pptx_bytes(b: bytes) -> dict:
    """PPTX → {text, n_slides, title}. Slides in numeric order;
    a:p paragraphs joined by newlines, slides by blank lines."""
    z = _open_zip(b)
    slides = sorted(
        ((int(m.group(1)), n) for n in z.namelist()
         if (m := _SLIDE_RE.match(n))),
        key=lambda t: t[0])
    out = []
    for _, name in slides[:MAX_SPINE_DOCS]:
        root = _parse_xml(_read_member(z, name), name)
        paras = []
        for p in root.iter(f"{{{_NS_A}}}p"):
            paras.append("".join(t.text or ""
                                 for t in p.iter(f"{{{_NS_A}}}t")))
        out.append("\n".join(paras))
    return {"text": "\n\n".join(out), "n_slides": len(slides),
            "title": _ooxml_core_title(z)}


# ----------------------------------------------------------------- odf

def _odf_paragraph_text(p: ET.Element) -> str:
    """ODF text:p/text:h content: text nodes in document order with
    text:tab → TAB, text:line-break → newline, text:s → N spaces."""
    parts: list[str] = []

    def walk(el: ET.Element):
        tag = el.tag
        if tag == f"{{{_NS_ODF_TEXT}}}tab":
            parts.append("\t")
        elif tag == f"{{{_NS_ODF_TEXT}}}line-break":
            parts.append("\n")
        elif tag == f"{{{_NS_ODF_TEXT}}}s":
            parts.append(" " * int(el.get(
                f"{{{_NS_ODF_TEXT}}}c", "1") or "1"))
        if el.text:
            parts.append(el.text)
        for ch in el:
            walk(ch)
            if ch.tail:
                parts.append(ch.tail)

    if p.text:
        parts.append(p.text)
    for ch in p:
        walk(ch)
        if ch.tail:
            parts.append(ch.tail)
    return "".join(parts)


def extract_odt_bytes(b: bytes) -> dict:
    """ODT/ODP → {text, n_paragraphs, title}: content.xml text:p +
    text:h paragraphs in document order, title from meta.xml."""
    z = _open_zip(b)
    root = _parse_xml(_read_member(z, "content.xml"), "content.xml")
    paras = []
    for el in root.iter():
        if el.tag in (f"{{{_NS_ODF_TEXT}}}p", f"{{{_NS_ODF_TEXT}}}h"):
            paras.append(_odf_paragraph_text(el))
    title = None
    if "meta.xml" in z.namelist():
        meta = _parse_xml(_read_member(z, "meta.xml"), "meta.xml")
        el = meta.find(f".//{{{_NS_DC}}}title")
        title = el.text if el is not None and el.text else None
    return {"text": "\n".join(paras), "n_paragraphs": len(paras),
            "title": title}


# ---------------------------------------------------------------- epub

_BLOCK_TAGS = frozenset(
    f"{{{_NS_XHTML}}}{t}" for t in
    ("p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "tr",
     "blockquote", "section", "article", "br"))
_SKIP_TAGS = frozenset(
    f"{{{_NS_XHTML}}}{t}" for t in ("script", "style", "head"))


def _xhtml_text(root: ET.Element) -> str:
    """XHTML body → text: block elements become line breaks,
    script/style/head are dropped, inline markup unwraps."""
    parts: list[str] = []

    def walk(el: ET.Element):
        if el.tag in _SKIP_TAGS:
            return
        if el.tag in _BLOCK_TAGS and parts and parts[-1] != "\n":
            parts.append("\n")
        if el.text:
            parts.append(el.text)
        for ch in el:
            walk(ch)
            if ch.tail:
                parts.append(ch.tail)
        if el.tag in _BLOCK_TAGS and parts and parts[-1] != "\n":
            parts.append("\n")

    body = root.find(f"{{{_NS_XHTML}}}body")
    walk(body if body is not None else root)
    text = "".join(parts)
    # collapse runs of blank lines born from nested blocks
    return re.sub(r"\n{2,}", "\n", text).strip("\n")


def extract_epub_bytes(b: bytes) -> dict:
    """EPUB → {text, n_docs, title}: OCF container.xml → OPF →
    spine order → XHTML text, documents joined by blank lines."""
    z = _open_zip(b)
    container = _parse_xml(_read_member(z, "META-INF/container.xml"),
                           "container.xml")
    rf = container.find(f".//{{{_NS_OCF}}}rootfile")
    if rf is None or not rf.get("full-path"):
        raise ValueError("EPUB container.xml without a rootfile")
    opf_path = rf.get("full-path")
    opf = _parse_xml(_read_member(z, opf_path), "OPF")
    opf_dir = posixpath.dirname(opf_path)
    items = {}
    for it in opf.iter(f"{{{_NS_OPF}}}item"):
        if it.get("id") and it.get("href"):
            items[it.get("id")] = it.get("href")
    order = [items[ref.get("idref")]
             for ref in opf.iter(f"{{{_NS_OPF}}}itemref")
             if ref.get("idref") in items]
    title_el = opf.find(f".//{{{_NS_DC}}}title")
    title = (title_el.text
             if title_el is not None and title_el.text else None)
    docs = []
    for href in order[:MAX_SPINE_DOCS]:
        path = posixpath.normpath(posixpath.join(opf_dir, href))
        if path.startswith(".."):
            raise ValueError("EPUB spine href escapes the container")
        root = _parse_xml(_read_member(z, path), href)
        docs.append(_xhtml_text(root))
    return {"text": "\n\n".join(docs), "n_docs": len(order),
            "title": title}


# ------------------------------------------------------------ dispatch

def extract_office_bytes(b: bytes) -> dict:
    """Sniff + extract any supported zip-document flavor →
    {format, text, n_parts, title}. 'xlsx' routes to the honest
    gate (read_xls is the engine's spreadsheet surface); plain
    'zip' archives are not documents."""
    fmt = sniff_zip_doc(b)
    if fmt == "docx":
        r = extract_docx_bytes(b)
        return {"format": fmt, "text": r["text"],
                "n_parts": r["n_paragraphs"], "title": r["title"]}
    if fmt == "pptx":
        r = extract_pptx_bytes(b)
        return {"format": fmt, "text": r["text"],
                "n_parts": r["n_slides"], "title": r["title"]}
    if fmt in ("odt", "odp"):
        r = extract_odt_bytes(b)
        return {"format": fmt, "text": r["text"],
                "n_parts": r["n_paragraphs"], "title": r["title"]}
    if fmt == "epub":
        r = extract_epub_bytes(b)
        return {"format": fmt, "text": r["text"],
                "n_parts": r["n_docs"], "title": r["title"]}
    if fmt in ("xlsx", "ods"):
        raise ValueError(
            f"{fmt} is a spreadsheet — route through read_xls")
    raise ValueError("plain zip archive — not a text document")


# --------------------------------------------------------- fixture side

def encode_docx(paragraphs, title: str | None = None) -> bytes:
    """Minimal spec-valid DOCX: [Content_Types].xml + _rels +
    word/document.xml (+ docProps/core.xml when titled)."""
    if isinstance(paragraphs, str):
        paragraphs = [paragraphs]
    body = []
    for p in paragraphs:
        runs = []
        for j, seg in enumerate(p.split("\n")):
            if j:
                runs.append("<w:br/>")
            runs.append("<w:t xml:space=\"preserve\">%s</w:t>"
                        % _xesc(seg))
        body.append("<w:p><w:r>%s</w:r></w:p>" % "".join(runs))
    doc = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
           "<w:document xmlns:w=\"%s\"><w:body>%s</w:body>"
           "</w:document>" % (_NS_W, "".join(body)))
    parts = {
        "[Content_Types].xml": _CT_DOCX,
        "_rels/.rels": _RELS_DOCX,
        "word/document.xml": doc,
    }
    if title is not None:
        parts["docProps/core.xml"] = (
            "<?xml version=\"1.0\"?><cp:coreProperties "
            "xmlns:cp=\"http://schemas.openxmlformats.org/package/2006"
            "/metadata/core-properties\" xmlns:dc=\"%s\">"
            "<dc:title>%s</dc:title></cp:coreProperties>"
            % (_NS_DC, _xesc(title)))
    return _zip_parts(parts)


def encode_pptx(slides, title: str | None = None) -> bytes:
    """Minimal PPTX: one slideN.xml per entry (paragraphs split on
    newline), numeric spine order."""
    if isinstance(slides, str):
        slides = [slides]
    parts = {
        "[Content_Types].xml": _CT_PPTX,
        "_rels/.rels": _RELS_PPTX,
        "ppt/presentation.xml":
            "<?xml version=\"1.0\"?><p:presentation xmlns:p=\""
            "http://schemas.openxmlformats.org/presentationml/2006/main"
            "\"/>",
    }
    for i, s in enumerate(slides, 1):
        paras = "".join(
            "<a:p><a:r><a:t>%s</a:t></a:r></a:p>" % _xesc(line)
            for line in s.split("\n"))
        parts["ppt/slides/slide%d.xml" % i] = (
            "<?xml version=\"1.0\"?><p:sld xmlns:p=\""
            "http://schemas.openxmlformats.org/presentationml/2006/main"
            "\" xmlns:a=\"%s\"><p:cSld><p:spTree>%s</p:spTree></p:cSld>"
            "</p:sld>" % (_NS_A, paras))
    if title is not None:
        parts["docProps/core.xml"] = (
            "<?xml version=\"1.0\"?><cp:coreProperties "
            "xmlns:cp=\"http://schemas.openxmlformats.org/package/2006"
            "/metadata/core-properties\" xmlns:dc=\"%s\">"
            "<dc:title>%s</dc:title></cp:coreProperties>"
            % (_NS_DC, _xesc(title)))
    return _zip_parts(parts)


def encode_odt(paragraphs, title: str | None = None) -> bytes:
    """Minimal ODT: mimetype (stored FIRST, uncompressed — the OCF
    rule) + content.xml (+ meta.xml when titled). Tabs and embedded
    newlines round-trip through text:tab / text:line-break."""
    if isinstance(paragraphs, str):
        paragraphs = [paragraphs]
    ps = []
    for p in paragraphs:
        s = (_xesc(p)
             .replace("\t", "<text:tab/>")
             .replace("\n", "<text:line-break/>"))
        ps.append("<text:p>%s</text:p>" % s)
    content = (
        "<?xml version=\"1.0\"?><office:document-content "
        "xmlns:office=\"%s\" xmlns:text=\"%s\"><office:body>"
        "<office:text>%s</office:text></office:body>"
        "</office:document-content>"
        % (_NS_ODF_OFFICE, _NS_ODF_TEXT, "".join(ps)))
    parts = {"mimetype": "application/vnd.oasis.opendocument.text",
             "content.xml": content}
    if title is not None:
        parts["meta.xml"] = (
            "<?xml version=\"1.0\"?><office:document-meta "
            "xmlns:office=\"%s\" xmlns:meta=\"%s\" xmlns:dc=\"%s\">"
            "<office:meta><dc:title>%s</dc:title></office:meta>"
            "</office:document-meta>"
            % (_NS_ODF_OFFICE, _NS_ODF_META, _NS_DC, _xesc(title)))
    return _zip_parts(parts, stored_first="mimetype")


def encode_epub(chapters, title: str | None = None) -> bytes:
    """Minimal EPUB 3: mimetype + container.xml + content.opf +
    one XHTML per chapter (paragraphs split on newline)."""
    if isinstance(chapters, str):
        chapters = [chapters]
    parts = {
        "mimetype": "application/epub+zip",
        "META-INF/container.xml":
            "<?xml version=\"1.0\"?><container version=\"1.0\" "
            "xmlns=\"%s\"><rootfiles><rootfile full-path=\"OEBPS/"
            "content.opf\" media-type=\"application/oebps-package+xml"
            "\"/></rootfiles></container>" % _NS_OCF,
    }
    manifest, spine = [], []
    for i, ch in enumerate(chapters, 1):
        paras = "".join("<p>%s</p>" % _xesc(line)
                        for line in ch.split("\n"))
        parts["OEBPS/ch%d.xhtml" % i] = (
            "<?xml version=\"1.0\"?><html xmlns=\"%s\"><head>"
            "<title>c%d</title></head><body>%s</body></html>"
            % (_NS_XHTML, i, paras))
        manifest.append("<item id=\"c%d\" href=\"ch%d.xhtml\" "
                        "media-type=\"application/xhtml+xml\"/>"
                        % (i, i))
        spine.append("<itemref idref=\"c%d\"/>" % i)
    parts["OEBPS/content.opf"] = (
        "<?xml version=\"1.0\"?><package xmlns=\"%s\" version=\"3.0\" "
        "unique-identifier=\"uid\"><metadata xmlns:dc=\"%s\">"
        "<dc:identifier id=\"uid\">meza</dc:identifier><dc:title>%s"
        "</dc:title></metadata><manifest>%s</manifest><spine>%s"
        "</spine></package>"
        % (_NS_OPF, _NS_DC, _xesc(title or "untitled"),
           "".join(manifest), "".join(spine)))
    return _zip_parts(parts, stored_first="mimetype")


_CT_DOCX = (
    "<?xml version=\"1.0\"?><Types xmlns=\"http://schemas."
    "openxmlformats.org/package/2006/content-types\">"
    "<Default Extension=\"xml\" ContentType=\"application/xml\"/>"
    "<Override PartName=\"/word/document.xml\" ContentType=\""
    "application/vnd.openxmlformats-officedocument.wordprocessingml."
    "document.main+xml\"/></Types>")
_RELS_DOCX = (
    "<?xml version=\"1.0\"?><Relationships xmlns=\"http://schemas."
    "openxmlformats.org/package/2006/relationships\"><Relationship "
    "Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/office"
    "Document/2006/relationships/officeDocument\" Target=\"word/"
    "document.xml\"/></Relationships>")
_CT_PPTX = _CT_DOCX.replace(
    "/word/document.xml", "/ppt/presentation.xml").replace(
    "wordprocessingml.document.main", "presentationml.presentation.main")
_RELS_PPTX = _RELS_DOCX.replace("word/document.xml",
                                "ppt/presentation.xml")


def _xesc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def _zip_parts(parts: dict, stored_first: str | None = None) -> bytes:
    buf = io.BytesIO()
    # fixed timestamp: fixture bytes must be deterministic
    dt = (1980, 1, 1, 0, 0, 0)
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        if stored_first and stored_first in parts:
            zi = zipfile.ZipInfo(stored_first, dt)
            z.writestr(zi, parts[stored_first],
                       compress_type=zipfile.ZIP_STORED)
        for name in sorted(parts):
            if name == stored_first:
                continue
            zi = zipfile.ZipInfo(name, dt)
            z.writestr(zi, parts[name])
    return buf.getvalue()


# ------------------------------------------------------------ spark layer

def office_text(df, payload_col: str = "payload",
                id_col: str = "media_id"):
    """Format, part count, title and text of each zip-document payload
    (docx, pptx, odt, epub); rows and ``error`` rows as in
    :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        r = extract_office_bytes(b)
        return [(r["format"], r["n_parts"], r["title"], r["text"],
                 len(r["text"]))]

    return extract_rows(df, fn, "format string, n_parts int, "
                        "title string, text string, n_chars int",
                        payload_col, id_col)
