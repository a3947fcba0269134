"""Readers (reference: meza/io.py).

Two tiers, by format splittability (SURVEY §4.2.3):

  - **Splittable** (csv/tsv/ndjson/text/parquet): ``spark.read`` —
    distributed scans, predicate pushdown, schema on read. The header
    hygiene options (sanitize/dedupe/custom_header) are driver-side
    column renames on top (ref: meza/io.py:824-846).
  - **Non-splittable** (xls(x)/html/yaml/dbf/sqlite/mdb/geojson
    FeatureCollections): parsed per FILE — one task per file when
    multiple files, driver-side for one — then ``createDataFrame``.
    Parallelism across files, never within (ref readers:
    meza/io.py:598-760,1033-1431).

Encoding detection (ref: meza/io.py:371-431,1579-1614): BOM sniff +
decode ladder. ``read_csv`` sniffs the first file on the driver
BEFORE building the scan, because Spark's csv reader takes one fixed
encoding (SURVEY §4.1); files Spark cannot scan parse on executors
(``read_csv_distributed``), which detect per file.

All readers return DataFrames; row dicts are available via
``df.toLocalIterator()`` for meza-style consumption.
"""

from __future__ import annotations

import csv as _csv
import json as _json
import os
import re
import struct
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedupe_names, underscorify

__all__ = [
    "read", "read_csv", "read_csv_distributed", "read_tsv", "read_fixed_fmt", "read_json",
    "read_ndjson", "read_ndjson_quarantine", "read_geojson", "read_yaml", "read_html", "read_xls",
    "read_sqlite", "read_dbf", "read_mdb", "read_orc", "read_xml",
    "io_join", "read_media", "detect_encoding", "get_ext", "ctype2ext",
    "to_filepath",
]

# HTTP content-type → extension (ref: meza/convert.py:47-78 ctype2ext)
_CTYPE_EXT = {
    "text/csv": "csv", "text/tab-separated-values": "tsv",
    "application/json": "json", "application/x-ndjson": "jsonl",
    "application/geo+json": "geojson", "text/html": "html",
    "application/vnd.ms-excel": "xls", "application/xlsx": "xlsx",
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet":
        "xlsx",
    "text/yaml": "yaml", "application/x-yaml": "yaml",
    "application/xml": "xml", "text/xml": "xml",
    "application/dbase": "dbf", "application/dbf": "dbf",
    "application/x-sqlite3": "sqlite", "application/x-msaccess": "mdb",
    "text/plain": "txt", "application/octet-stream": "bin",
}


def get_ext(path: str) -> str:
    """Lower-cased extension without the dot (ref: meza/fntools.py:288-309),
    query strings/fragments stripped for URLs."""
    import posixpath
    from urllib.parse import urlparse

    p = urlparse(path)
    base = posixpath.basename(p.path) if p.scheme else path
    ext = base.rsplit(".", 1)[-1] if "." in base else ""
    return ext.lower()


def ctype2ext(content_type: str) -> str:
    """HTTP content-type → file extension (ref: meza/convert.py:47-78)."""
    ct = content_type.split(";")[0].strip().lower()
    return _CTYPE_EXT.get(ct, ct.rsplit("/", 1)[-1])


def to_filepath(url: str, dest_dir: str = "/tmp",
                content_type: str | None = None) -> str:
    """URL → deterministic local file path (ref: meza/convert.py:513-556):
    basename preserved, extension derived from content-type when the
    URL has none. Download itself is the caller's job (the engine reads
    distributed storage natively; this is for driver-side fetches of
    non-splittable formats)."""
    import os as _os
    import posixpath
    from urllib.parse import urlparse

    p = urlparse(url)
    base = posixpath.basename(p.path) or "download"
    if "." not in base and content_type:
        base = f"{base}.{ctype2ext(content_type)}"
    return _os.path.join(dest_dir, base)


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------

_BOMS = [
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"), (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"), (b"\xfe\xff", "utf-16-be"),
]


def detect_encoding(path: str, sample_bytes: int = 1 << 16) -> str:
    """BOM sniff + decode ladder (ref: meza/io.py:1579-1614 uses chardet;
    we try chardet when importable, else a deterministic ladder
    utf-8 → windows-1252 → latin-1, mirroring the reference's
    Windows-1252 quirk handling at io.py:419-431)."""
    with open(path, "rb") as f:
        head = f.read(sample_bytes)
    return _detect_bytes(head)


def _detect_bytes(head: bytes) -> str:
    for bom, enc in _BOMS:
        if head.startswith(bom):
            return enc
    try:
        head.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        pass
    try:
        import chardet  # type: ignore

        got = chardet.detect(head)
        if got and got.get("encoding"):
            return got["encoding"]
    except ImportError:
        pass
    for enc in ("windows-1252", "latin-1"):
        try:
            head.decode(enc)
            return enc
        except UnicodeDecodeError:
            continue
    return "latin-1"  # decodes anything


def _tail_clean(path: str, encoding: str,
                sample_bytes: int = 1 << 16) -> bool:
    """Does the LAST ``sample_bytes`` of the file decode with
    ``encoding``? Up-front detection samples only the head; a file
    that is clean early and broken late would crash (or silently
    mangle) Spark's charset-fixed reader mid-scan. Up to 3 leading
    bytes of the tail sample are slack — the slice may start inside a
    multi-byte sequence."""
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        if size <= sample_bytes:
            return True  # head sample covered the whole file
        f.seek(size - sample_bytes)
        tail = f.read(sample_bytes)
    for skip in range(4):
        try:
            tail[skip:].decode(encoding)
            return True
        except UnicodeDecodeError:
            continue
        except LookupError:
            return True  # unknown-to-python alias: let the read decide
    return False


def _decode_with_recovery(data: bytes, encoding: str) -> str:
    """Decode with MID-STREAM re-detection (ref: meza/io.py:481-502:
    the reference catches UnicodeDecodeError mid-read, re-detects,
    reopens and resumes at the saved position). On failure the clean
    prefix is kept, the encoding is re-detected from the failure
    offset onward, and decoding resumes there; if re-detection does
    not change its mind, the offending byte passes through latin-1
    (which decodes anything) and the loop continues."""
    enc = encoding
    pos = 0
    parts = []
    while pos < len(data):
        try:
            parts.append(data[pos:].decode(enc))
            break
        except UnicodeDecodeError as err:
            parts.append(data[pos:pos + err.start].decode(enc))
            pos += err.start
            new_enc = _detect_bytes(data[pos:pos + (1 << 16)])
            if new_enc.lower() == enc.lower():
                parts.append(data[pos:pos + 1].decode("latin-1"))
                pos += 1
            else:
                enc = new_enc
        except LookupError:  # chardet named a codec python lacks
            parts.append(data[pos:].decode("latin-1"))
            break
    return "".join(parts)


def _clean_header(names: Sequence[str], sanitize: bool = False,
                  dedupe: bool = True) -> list[str]:
    """Header hygiene (ref: meza/io.py:824-846): blank → column_N,
    optional slugify, duplicate suffixing field, field_2, ..."""
    out = []
    for i, n in enumerate(names):
        n = (n or "").strip().lstrip("﻿")  # BOM strip (io.py:311-368)
        if not n:
            n = f"column_{i + 1}"
        elif sanitize:
            n = underscorify(n)
        out.append(n)
    return dedupe_names(out) if dedupe else out


# ---------------------------------------------------------------------------
# CSV family (splittable fast path + reference-parity sliced path)
# ---------------------------------------------------------------------------

def read_csv(spark: SparkSession, path: str, has_header: bool = True,
             custom_header: Sequence[str] | None = None,
             delimiter: str = ",", quotechar: str = '"',
             encoding: str | None = None, sanitize: bool = False,
             dedupe: bool = True, first_row: int = 0, first_col: int = 0,
             last_row: int | None = None,
             infer_schema: bool = False) -> DataFrame:
    """CSV → DataFrame (ref: meza/io.py:763-850).

    Clean files (no row/col slicing, a charset Spark scans, a tail that
    decodes like the head): pure ``spark.read.csv`` — distributed,
    splittable, scalable; header hygiene is a driver-side rename of the
    raw header line. When that header's names are all non-blank and
    distinct (case-insensitively), they are handed to Spark as an
    all-string schema, so the read launches no job; blank or duplicate
    names, ``custom_header``, headerless files and ``infer_schema=True``
    let Spark infer the columns (one job).

    Messy files take ``read_csv_distributed`` (one executor task per
    file, all columns strings): ``first_row``/``first_col``/``last_row``
    slicing (incl. negative ``last_row`` = drop tail, ref
    io.py:473-479), a charset Spark cannot scan (windows-1252,
    utf-16, ...), or a first file clean early and broken late
    (detection samples 64 KiB). Each file decodes with mid-stream
    recovery (ref io.py:481-502); the header comes from the first file.

    ``encoding=None`` auto-detects per file (bounded reads).
    """
    first = _first_file(path)
    enc = encoding or detect_encoding(first)
    # Spark's CSVOptions accepts a fixed charset whitelist; map Python
    # codec names onto it. (utf-16/32 are whitelisted by Spark but its
    # record splitting on multi-byte charsets is unreliable.)
    spark_charset = {
        "utf-8": "utf-8", "utf-8-sig": "utf-8", "ascii": "us-ascii",
        "latin-1": "iso-8859-1", "iso-8859-1": "iso-8859-1",
    }.get(enc.lower())
    if (spark_charset is None or first_row or first_col
            or last_row is not None or not _tail_clean(first, enc)):
        return read_csv_distributed(
            spark, path, has_header=has_header, custom_header=custom_header,
            delimiter=delimiter, quotechar=quotechar, encoding=encoding,
            sanitize=sanitize, dedupe=dedupe, first_row=first_row,
            first_col=first_col, last_row=last_row)

    reader = (spark.read
              .option("header", str(has_header).lower())
              .option("sep", delimiter).option("quote", quotechar)
              # RFC 4180 doubled-quote escape ("" inside a quoted
              # field); Spark's default escape is backslash, which
              # leaves `""` as two literal quotes
              .option("escape", quotechar)
              .option("encoding", spark_charset)
              .option("inferSchema", str(infer_schema).lower())
              .option("mode", "PERMISSIVE"))
    raw = None
    if has_header and custom_header is None:
        # Spark's reader pre-mangles dupe/blank headers (col0/_c2);
        # re-derive names from the raw header line (driver, 1 line)
        with open(first, encoding=enc, newline="") as f:
            raw = next(_csv.reader(f, delimiter=delimiter,
                                   quotechar=quotechar), None)
    if (raw and not infer_schema and all(n.strip() for n in raw)
            and len({n.casefold() for n in raw}) == len(raw)):
        # The header as an all-string schema spares Spark the job that
        # reads the first line to name the columns. Names go in
        # verbatim, so Spark's header check matches; a blank or
        # duplicate name would fail the check or the schema.
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType([StructField(n, StringType()) for n in raw])
        return reader.schema(schema).csv(path).toDF(
            *_clean_header(raw, sanitize, dedupe))
    df = reader.csv(path)
    if custom_header is not None:
        # Let Spark consume per-file headers (header=true above) and
        # just rename — subtracting a collected "first row" is wrong
        # for multi-file globs and can delete data rows that happen
        # to equal the header.
        names = _clean_header(list(custom_header), sanitize, dedupe)
        return df.toDF(*names[:len(df.columns)])
    if has_header:
        if raw is None:  # empty file → empty frame, not StopIteration
            return df
        names = _clean_header(raw, sanitize, dedupe)
        if len(names) == len(df.columns):
            return df.toDF(*names)
        return df.toDF(*_clean_header(df.columns, sanitize, dedupe))
    # headerless: _c0.._cN → column_1..column_N+1 (ref io.py:846)
    return df.toDF(*[f"column_{i + 1}" for i in range(len(df.columns))])


def read_tsv(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """TSV (ref: meza/io.py:853-893 — csv with excel-tab dialect)."""
    kwargs.setdefault("delimiter", "\t")
    return read_csv(spark, path, **kwargs)


def read_fixed_fmt(spark: SparkSession, path: str, widths: Sequence[int],
                   has_header: bool = False, sanitize: bool = False,
                   dedupe: bool = True,
                   encoding: str | None = None) -> DataFrame:
    """Fixed-width (ref: meza/io.py:896-960, ``widths`` = column start
    offsets as in the reference's zip_longest schema).

    Spark-first: ``spark.read.text`` (splittable, distributed) +
    one ``substring`` per column — JVM-side slicing, no Python.
    The header row, when present, is read driver-side.
    """
    starts = list(widths)
    ends = starts[1:] + [None]
    if encoding is None:
        encoding = detect_encoding(_first_file(path))

    if has_header:
        with open(_first_file(path), encoding=encoding) as f:
            hline = f.readline().rstrip("\r\n")
        names = [hline[s:e].strip() if e else hline[s:].strip()
                 for s, e in zip(starts, ends)]
        names = _clean_header(names, sanitize, dedupe)
    else:
        names = [f"column_{i + 1}" for i in range(len(starts))]

    txt = spark.read.text(path)
    if has_header:
        hdr_lit = F.lit(hline)
        txt = txt.filter(F.col("value") != hdr_lit)
    cols = []
    for name, s, e in zip(names, starts, ends):
        ln = (e - s) if e else (1 << 20)
        cols.append(F.trim(F.substring("value", s + 1, ln)).alias(name))
    return txt.select(*cols)


# ---------------------------------------------------------------------------
# JSON family
# ---------------------------------------------------------------------------

def read_json(spark: SparkSession, path: str,
              newline: bool | None = None) -> DataFrame:
    """JSON array or NDJSON (ref: meza/io.py:1121-1157 — ijson streaming
    array parse / line-delimited map(json.loads)).

    NDJSON → native splittable ``spark.read.json``. Array form →
    ``multiLine=true`` (one task per file — arrays aren't splittable,
    same constraint the reference's ijson stream has).
    """
    if newline is None:
        with open(_first_file(path), "rb") as f:
            head = f.read(64).lstrip()
        newline = not head.startswith(b"[")
    if newline:
        return spark.read.json(path)
    return spark.read.option("multiLine", "true").json(path)


def read_ndjson(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def read_ndjson_quarantine(spark: SparkSession, path: str,
                           schema=None) -> tuple[DataFrame, DataFrame]:
    """NDJSON with corrupt-record quarantine: returns ``(good, bad)``
    — the production ingestion contract (never drop silently, never
    abort the batch on one mangled line).

    ``good`` carries the parsed rows; ``bad`` carries the raw text of
    every unparseable line, ready for a quarantine sink.

    Built on the TEXT source + ``from_json`` rather than the json
    source's corrupt-record column: Spark refuses to query only the
    corrupt column without caching the scan (a per-call cache with no
    unpersist handle would leak executor storage), while the text
    form is a plain splittable scan per returned frame. ``schema``
    (StructType or DDL string) skips inference; without it one
    driver-bounded inference pass reads the data first.
    """
    from pyspark.sql.types import StructType

    if schema is None:
        schema = spark.read.json(path).schema
        if "_corrupt_record" in schema.fieldNames():
            schema = StructType([f for f in schema.fields
                                 if f.name != "_corrupt_record"])
    elif isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    raw = spark.read.text(path).where(F.trim("value") != "")
    # validity = try_parse_json (null on malformed) AND an object form
    # (leading '{'): from_json alone returns an all-null STRUCT for
    # garbage, and valid-but-non-object lines (`42`, `[1,2]`, `"s"`)
    # parse fine yet would silently become all-null rows — both must
    # land in the quarantine frame, per the json-source PERMISSIVE
    # corrupt-record semantics this mirrors
    parsed = raw.select(
        "value", F.from_json("value", schema).alias("_j"),
        (F.expr("try_parse_json(value)").isNotNull()
         & F.trim("value").startswith("{")).alias("_ok"))
    good = parsed.where(F.col("_ok")).select("_j.*")
    bad = parsed.where(~F.col("_ok")) \
        .select(F.col("value").alias("corrupt_record"))
    return good, bad


# --- GeoJSON ---------------------------------------------------------------

def _geojson_records(path: str) -> list[dict]:
    """FeatureCollection → flat records (ref: meza/io.py:1170-1188
    gen_records): Point/LineString/Polygon explode to one row per
    coordinate with ``id``, ``type``, ``lon``, ``lat`` + ``pos`` (ring
    index, polygons) + ``seq`` (vertex order within a ring/line) +
    properties. ``seq`` is what lets ``records2geojson`` rebuild
    LineString vertex order and Polygon ring structure exactly — the
    reference preserves coordinate order implicitly via generator
    order; a distributed engine must carry it as data."""
    with open(path, encoding="utf-8") as f:
        collection = _json.load(f)
    out = []
    for feat in collection.get("features", []):
        geom = feat.get("geometry") or {}
        gtype = geom.get("type")
        props = dict(feat.get("properties") or {})
        base = {"id": feat.get("id", props.get("id")), "type": gtype}
        coords = geom.get("coordinates", [])
        if gtype == "Point":
            out.append({**base, "lon": coords[0], "lat": coords[1], **props})
        elif gtype == "LineString":
            for seq, (lon, lat) in enumerate(coords):
                out.append({**base, "seq": seq, "lon": lon, "lat": lat,
                            **props})
        elif gtype == "Polygon":
            for pos, ring in enumerate(coords):
                for seq, (lon, lat) in enumerate(ring):
                    out.append({**base, "pos": pos, "seq": seq, "lon": lon,
                                "lat": lat, **props})
        else:
            raise NotImplementedError(f"geometry type {gtype!r}")
    return out


def read_geojson(spark: SparkSession, path: str,
                 explode: bool = True) -> DataFrame:
    """GeoJSON → flat records (ref: meza/io.py:1191-1251).

    ``explode=True`` (default, current-reference semantics): one row
    per coordinate with id/type/lon/lat/pos/seq + properties.
    ``explode=False``: one row per FEATURE — properties + the whole
    geometry serialized into a ``geojson`` JSON-string column. This is
    the shape of the reference's own published conversion
    data/converted/geojson.csv (the tabutils-era record form) and the
    right shape for feature-level analytics where per-vertex rows
    would explode cardinality.

    A FeatureCollection is one JSON object → non-splittable; files
    parse independently (one task per file for many files)."""
    if explode:
        return _per_file(spark, path, _geojson_records)

    def feature_records(p: str) -> list[dict]:
        with open(p, encoding="utf-8") as f:
            collection = _json.load(f)
        out = []
        for feat in collection.get("features", []):
            props = dict(feat.get("properties") or {})
            rec = {"id": feat.get("id", props.get("id"))}
            rec.update(props)
            rec["geojson"] = _json.dumps(feat.get("geometry"))
            out.append(rec)
        return out

    return _per_file(spark, path, feature_records)


# ---------------------------------------------------------------------------
# driver/per-file parsed formats
# ---------------------------------------------------------------------------

def _yaml_records(path: str) -> list[dict]:
    """One YAML file → records (a top-level mapping is one record)."""
    try:
        import yaml  # type: ignore
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("read_yaml requires PyYAML") from e

    with open(path, encoding="utf-8") as f:
        data = yaml.safe_load(f)
    return data if isinstance(data, list) else [data]


def read_yaml(spark: SparkSession, path: str) -> DataFrame:
    """YAML (ref: meza/io.py:1254-1287, blocking there too). Needs
    PyYAML; import-gated."""
    return _per_file(spark, path, _yaml_records)


class _TableHTMLParser:
    """Minimal stdlib HTML table extractor (the reference uses
    BeautifulSoup, meza/io.py:1333-1431; we avoid the dependency —
    th-based header detection and vertical-table support included)."""

    def __init__(self):
        from html.parser import HTMLParser

        outer = self

        class P(HTMLParser):
            def __init__(self):
                super().__init__()
                self.tables, self.rows, self.row = [], [], None
                self.cell, self.in_cell, self.is_th = None, False, []

            def handle_starttag(self, tag, attrs):
                if tag == "table":
                    self.rows = []
                elif tag == "tr":
                    self.row, self.row_th = [], []
                elif tag in ("td", "th"):
                    self.in_cell, self.cell = True, []
                    self.row_th.append(tag == "th")

            def handle_endtag(self, tag):
                if tag == "table":
                    self.tables.append(self.rows)
                elif tag == "tr" and self.row is not None:
                    self.rows.append((self.row, self.row_th))
                    self.row = None
                elif tag in ("td", "th") and self.in_cell:
                    self.row.append("".join(self.cell).strip())
                    self.in_cell = False

            def handle_data(self, data):
                if self.in_cell:
                    self.cell.append(data)

        self.parser = P()

    def extract(self, html: str) -> list[list[tuple[list[str], list[bool]]]]:
        self.parser.feed(html)
        return self.parser.tables


def _html_records(path: str, table: int = 0, sanitize: bool = True,
                  vertical: bool | None = None) -> list[dict]:
    """One HTML file's ``table``-th table → records (see read_html)."""
    with open(path, encoding=detect_encoding(path)) as f:
        tables = _TableHTMLParser().extract(f.read())
    if not tables:
        return []
    rows_th = tables[table]
    rows = [r for r, _ in rows_th]
    th_flags = [t for _, t in rows_th]
    is_vertical = vertical
    if is_vertical is None:
        is_vertical = (len(rows) > 1 and all(
            t and t[0] and not any(t[1:]) for t in th_flags if t))
    if is_vertical:
        names = _clean_header([r[0] for r in rows], sanitize)
        cols = [r[1:] for r in rows]
        n = min(len(c) for c in cols)
        return [dict(zip(names, [col[i] for col in cols]))
                for i in range(n)]
    names = _clean_header(rows[0], sanitize)
    return [dict(zip(names, r)) for r in rows[1:] if any(v for v in r)]


def read_html(spark: SparkSession, path: str, table: int = 0,
              sanitize: bool = True, vertical: bool | None = None) -> DataFrame:
    """HTML table (ref: meza/io.py:1333-1431): ``table=`` index,
    th-header detection, vertical tables (first cell of each row is a
    th → transpose, ref io.py:1412-1415)."""
    return _per_file(spark, path, partial(
        _html_records, table=table, sanitize=sanitize, vertical=vertical))


def _xls_records(path: str, sheet: int = 0, sanitize: bool = True,
                 has_header: bool = True,
                 date1904: bool | None = None) -> list[dict]:
    """One workbook's ``sheet`` → records, empty cells as None (see
    read_xls)."""
    if path.endswith((".xlsx", ".xlsm")):
        grid = _read_xlsx_grid(path, sheet, date1904)
    else:
        # native stdlib BIFF8 parse (OLE2 container + record walk in
        # io/xls.py); xlrd is only a fallback for BIFF5-and-older
        # files the native reader rejects
        from .xls import read_biff_grid

        try:
            grid = read_biff_grid(path, sheet, date1904)
        except ValueError:
            try:
                import xlrd  # type: ignore
            except ImportError as e:
                raise NotImplementedError(
                    "pre-BIFF8 .xls needs xlrd; convert to .xlsx"
                ) from e
            book = xlrd.open_workbook(path)
            sh = book.sheet_by_index(sheet)
            grid = [[_xl_cell(sh.cell(r, c), book.datemode)
                     for c in range(sh.ncols)] for r in range(sh.nrows)]
    if not grid:
        return []
    if has_header:
        names = _clean_header([str(v) for v in grid[0]], sanitize)
        body = grid[1:]
    else:
        names = [f"column_{i+1}" for i in range(len(grid[0]))]
        body = grid
    return [dict(zip(names, [None if v == "" else v for v in r]))
            for r in body if any(str(v).strip() for v in r)]


def read_xls(spark: SparkSession, path: str, sheet: int = 0,
             sanitize: bool = True, has_header: bool = True,
             date1904: bool | None = None) -> DataFrame:
    """Excel (ref: meza/io.py:1033-1118). xlsx parsed with a minimal
    stdlib zip+XML reader (shared strings + 1904-date handling per the
    reference's sanitize_sheet, io.py:963-1022); legacy BIFF8 .xls
    parsed natively by io/xls.py (older BIFF needs xlrd, import-gated).

    ``date1904`` overrides the workbook's declared date system — real
    Mac-made files sometimes carry 1904-based serials without the
    flag (the reference's own test.xlsx sheet 2 is such a file; its
    published conversion data/converted/sheet_2.csv proves the 1904
    epoch). Default ``None`` trusts the file.
    """
    return _per_file(spark, path, partial(
        _xls_records, sheet=sheet, sanitize=sanitize,
        has_header=has_header, date1904=date1904))


def _xl_cell(cell, datemode):  # pragma: no cover - xlrd path
    import xlrd  # type: ignore

    if cell.ctype == xlrd.XL_CELL_DATE:
        import datetime
        return datetime.datetime(*xlrd.xldate_as_tuple(cell.value, datemode)) \
            .isoformat()
    return cell.value


def _read_xlsx_grid(path: str, sheet: int = 0,
                    force_1904: bool | None = None) -> list[list]:
    """Tiny xlsx reader: worksheet XML + sharedStrings, stdlib only.

    Handles inline/shared strings, numbers, booleans, and the Excel
    serial-date stringification the reference does in sanitize_sheet
    (meza/io.py:963-1022) — dates come back as ISO strings when the
    cell style is a date format (subset: built-in date numFmts).
    """
    import xml.etree.ElementTree as ET
    import zipfile

    from .xls import _DATE_FMT_RE, _DATE_IFMTS, _serial_to_iso

    NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    R_NS = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
            "relationships}id")
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", NS):
                shared.append("".join(t.text or "" for t in si.iter(
                    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t")))
        # workbook: 1904 date system flag + sheet order → rel targets
        date1904 = False
        sheet_path = f"xl/worksheets/sheet{sheet + 1}.xml"
        if "xl/workbook.xml" in names:
            wb = ET.fromstring(z.read("xl/workbook.xml"))
            pr = wb.find("m:workbookPr", NS)
            if pr is not None and pr.get("date1904", "0").lower() in (
                    "1", "true"):
                date1904 = True
            rels = {}
            if "xl/_rels/workbook.xml.rels" in names:
                for rel in ET.fromstring(
                        z.read("xl/_rels/workbook.xml.rels")):
                    tgt = rel.get("Target", "").lstrip("/")
                    rels[rel.get("Id")] = (
                        tgt if tgt.startswith("xl/") else "xl/" + tgt)
            sheet_el = wb.find("m:sheets", NS)
            sheet_nodes = (sheet_el.findall("m:sheet", NS)
                           if sheet_el is not None else [])
            if sheet < len(sheet_nodes):
                rid = sheet_nodes[sheet].get(R_NS)
                if rid in rels:
                    sheet_path = rels[rid]
        if force_1904 is not None:
            date1904 = force_1904
        # styles: cellXfs numFmtId per style index; date-format detect
        # mirrors the BIFF reader (io/xls.py is_date_xf)
        xf_ifmt: list[int] = []
        fmt_strings: dict[int, str] = {}
        if "xl/styles.xml" in names:
            st = ET.fromstring(z.read("xl/styles.xml"))
            nf = st.find("m:numFmts", NS)
            if nf is not None:
                for f in nf.findall("m:numFmt", NS):
                    fmt_strings[int(f.get("numFmtId"))] = \
                        f.get("formatCode", "")
            cx = st.find("m:cellXfs", NS)
            if cx is not None:
                for xf in cx.findall("m:xf", NS):
                    xf_ifmt.append(int(xf.get("numFmtId", "0")))
        root = ET.fromstring(z.read(sheet_path))

    def is_date_style(s_attr: str | None) -> bool:
        if s_attr is None:
            return False
        try:
            ixfe = int(s_attr)
        except ValueError:
            return False
        if ixfe >= len(xf_ifmt):
            return False
        ifmt = xf_ifmt[ixfe]
        if ifmt in _DATE_IFMTS:
            return True
        fmt = fmt_strings.get(ifmt)
        if not fmt:
            return False
        bare = re.sub(r'"[^"]*"|\[[^\]]*\]', "", fmt)
        return bool(_DATE_FMT_RE.search(bare)) and "#" not in bare

    def col_idx(ref: str) -> int:
        s = 0
        for ch in ref:
            if ch.isalpha():
                s = s * 26 + (ord(ch.upper()) - 64)
            else:
                break
        return s - 1

    grid = []
    for row in root.find("m:sheetData", NS).findall("m:row", NS):
        cells = {}
        for c in row.findall("m:c", NS):
            ref = c.get("r", "")
            t = c.get("t", "n")
            v = c.find("m:v", NS)
            is_node = c.find("m:is", NS)
            if t == "s" and v is not None:
                val = shared[int(v.text)]
            elif t == "inlineStr" and is_node is not None:
                val = "".join(tt.text or "" for tt in is_node.iter(
                    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"))
            elif t == "b" and v is not None:
                val = bool(int(v.text))
            elif v is not None:
                raw = v.text
                try:
                    val = int(raw)
                except ValueError:
                    try:
                        val = float(raw)
                    except ValueError:
                        val = raw
                if isinstance(val, (int, float)) and not isinstance(
                        val, bool) and is_date_style(c.get("s")):
                    val = _serial_to_iso(float(val), date1904)
            else:
                val = ""
            cells[col_idx(ref)] = val
        if cells:
            width = max(cells) + 1
            grid.append([cells.get(i, "") for i in range(width)])
    width = max((len(r) for r in grid), default=0)
    return [r + [""] * (width - len(r)) for r in grid]


# --- dBase -----------------------------------------------------------------

def read_dbf(spark: SparkSession, path: str,
             sanitize: bool = True) -> DataFrame:
    """dBase/FoxPro (ref: meza/io.py:677-722 + meza/dbf.py via dbfread).

    Minimal stdlib DBF parser (format is a fixed public spec): C/N/F/L/D
    field types; numerics → int/float, zero-padded codes stay text
    (FIXTURES §6 semantics)."""
    def parse(p):
        with open(p, "rb") as f:
            data = f.read()
        n_recs, hdr_len, rec_len = struct.unpack("<IHH", data[4:12])
        fields = []
        off = 32
        while data[off] != 0x0D:
            name = data[off:off + 11].split(b"\x00")[0].decode("ascii")
            ftype = chr(data[off + 11])
            flen = data[off + 16]
            fdec = data[off + 17]
            fields.append((name, ftype, flen, fdec))
            off += 32
        names = _clean_header([f[0] for f in fields], sanitize)
        out = []
        pos = hdr_len
        for _ in range(n_recs):
            rec = data[pos:pos + rec_len]
            pos += rec_len
            if not rec or rec[0:1] == b"*":       # deleted record
                continue
            row, cur = {}, 1
            for (name, ftype, flen, fdec), clean in zip(fields, names):
                raw = rec[cur:cur + flen].decode("latin-1").strip()
                cur += flen
                if ftype in ("N", "F") and raw:
                    if len(raw) > 1 and raw[0] == "0" and "." not in raw:
                        # zero-padded code stays text (FIXTURES §6)
                        row[clean] = raw
                    elif ftype == "N" and fdec == 0:
                        try:
                            row[clean] = int(raw)
                        except ValueError:
                            row[clean] = raw
                    else:
                        try:
                            row[clean] = float(raw)
                        except ValueError:
                            row[clean] = raw
                elif ftype == "L":
                    row[clean] = raw.upper() in ("T", "Y") if raw else None
                elif ftype == "D" and len(raw) == 8:
                    row[clean] = f"{raw[:4]}-{raw[4:6]}-{raw[6:]}"
                else:
                    row[clean] = raw if raw else None
            out.append(row)
        # per-COLUMN type consistency: if any value stayed text (e.g. a
        # zero-padded code), the whole column is text (dbfread parity —
        # one dtype per field)
        for col in names:
            vals = [r.get(col) for r in out]
            kinds = {type(v) for v in vals if v is not None}
            if str in kinds and len(kinds) > 1:
                for r in out:
                    if r.get(col) is not None:
                        r[col] = str(r[col])
            elif kinds == {int, float}:
                for r in out:
                    if r.get(col) is not None:
                        r[col] = float(r[col])
        return out

    return _per_file(spark, path, parse)


# --- databases -------------------------------------------------------------

def read_sqlite(spark: SparkSession, path: str,
                table: str | None = None,
                num_partitions: int | None = None) -> DataFrame:
    """SQLite (ref: meza/io.py:725-760 — SELECT * FROM first table).

    Default: driver-side stdlib sqlite3 → createDataFrame (the
    reference's shape — fine for config-sized dbs).

    ``num_partitions=N`` is the distributed path without a JDBC jar:
    the driver reads only min/max rowid, splits the range into N
    slices, and each EXECUTOR task opens the db file itself (sqlite
    readers don't lock each other out) and scans
    ``WHERE rowid BETWEEN lo AND hi`` — an index-backed range scan, so
    N tasks each touch ~1/N of the table. Requires the path to be
    visible on executors (shared fs), which local mode and any
    NFS/alluxio-style cluster layout satisfies.
    """
    import sqlite3

    con = sqlite3.connect(path)
    try:
        if table is None:
            row = con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'").fetchone()
            if row is None:
                raise ValueError(f"no tables in {path}")
            table = row[0]
        if num_partitions is None:
            cur = con.execute(f"SELECT * FROM {table}")  # noqa: S608 (table from sqlite_master)
            names = [d[0] for d in cur.description]
            rows = [dict(zip(names, r)) for r in cur.fetchall()]
            return _records_df(spark, rows, names)
        cur = con.execute(
            f"SELECT min(rowid), max(rowid) FROM {table}")  # noqa: S608
        lo, hi = cur.fetchone()
        info = con.execute(f"PRAGMA table_info({table})").fetchall()
    finally:
        con.close()
    from pyspark.sql.types import (BinaryType, DoubleType, LongType,
                                   StringType, StructField, StructType)

    def _decl_type(decl: str):
        d = (decl or "").upper()
        if "INT" in d:
            return LongType()
        if any(t in d for t in ("REAL", "FLOA", "DOUB", "NUMER", "DEC")):
            return DoubleType()
        if "BLOB" in d or d == "":
            return BinaryType() if "BLOB" in d else StringType()
        return StringType()

    schema = StructType([StructField(c[1], _decl_type(c[2]))
                         for c in info])
    if lo is None:
        return spark.createDataFrame([], schema)
    step = max(1, (hi - lo + 1) // num_partitions)
    bounds = [(lo + i * step,
               (lo + (i + 1) * step - 1) if i < num_partitions - 1 else hi)
              for i in range(num_partitions)]
    bounds = [(a, b) for a, b in bounds if a <= b]

    def scan(rng):
        import sqlite3 as s3

        a, b = rng
        c = s3.connect(path)
        try:
            return [tuple(r) for r in c.execute(
                f"SELECT * FROM {table} WHERE rowid BETWEEN ? AND ?",  # noqa: S608
                (a, b))]
        finally:
            c.close()

    rdd = spark.sparkContext.parallelize(bounds, len(bounds)).flatMap(scan)
    return spark.createDataFrame(rdd, schema=schema)


def read_mdb(spark: SparkSession, path: str,
             table: str | None = None,
             sanitize: bool = False) -> DataFrame:
    """MS Access (ref: meza/io.py:598-674 pipes ``mdb-export``;
    default = first user table, ``sanitize`` underscorifies names).

    Two engines, tried in order:
      1. the mdbtools CLI when installed (byte-parity with the
         reference's subprocess pipe);
      2. the NATIVE pure-stdlib Jet4 parser (``meza_spark.io.mdb``) —
         typed values (long/double/timestamp/bool/decimal/text/memo)
         instead of mdb-export's CSV strings, so no lossy
         stringify-then-reinfer round-trip.

    Jet3 (Access 97) files parse natively for the common subset
    (2 KB pages, latin-1 text, <256-byte rows); the jump-table var
    scheme and Jet3 memos still gate with NotImplementedError — route
    those through mdbtools (see JetDb). Driver-side parse →
    ``createDataFrame``: .mdb is hard-capped at 2 GB by the format,
    so per-FILE parallelism via ``io_join`` is the distribution
    model (SURVEY §4.2.3), same as xls/dbf.
    """
    import shutil
    import subprocess
    import tempfile

    if shutil.which("mdb-export") is not None:
        if table is None:
            tables = subprocess.run(["mdb-tables", "-1", path],
                                    capture_output=True, text=True,
                                    check=True).stdout.split()
            table = tables[0]
        out = subprocess.run(["mdb-export", path, table],
                             capture_output=True,
                             text=True, check=True).stdout
        with tempfile.NamedTemporaryFile("w", suffix=".csv",
                                         delete=False) as f:
            f.write(out)
            tmp = f.name
        return read_csv(spark, tmp, sanitize=sanitize)

    from decimal import Decimal

    from pyspark.sql import types as T

    from ..functions import dedupe_names, underscorify
    from .mdb import (BINARY, BOOL, BYTE, DATETIME, DOUBLE, FLOAT, GUID,
                      INT, LONGINT, MEMO, MONEY, OLE, TEXT, JetDb)

    jt = JetDb(path).table(table)
    spark_type = {
        BOOL: T.BooleanType(), BYTE: T.LongType(), INT: T.LongType(),
        LONGINT: T.LongType(), MONEY: T.DecimalType(19, 4),
        FLOAT: T.DoubleType(), DOUBLE: T.DoubleType(),
        DATETIME: T.TimestampType(), TEXT: T.StringType(),
        MEMO: T.StringType(), GUID: T.StringType(),
        BINARY: T.BinaryType(), OLE: T.BinaryType(),
    }
    names = [c.name for c in jt.columns]
    if sanitize:
        names = dedupe_names([underscorify(n) for n in names])
    schema = T.StructType([
        T.StructField(nm, spark_type.get(c.type, T.StringType()), True)
        for nm, c in zip(names, jt.columns)])
    data = [tuple(
        float(v) if isinstance(v, Decimal)
        and c.type not in (MONEY,) else v
        for v, c in zip((r[c.name] for c in jt.columns), jt.columns))
        for r in jt.rows()]
    return spark.createDataFrame(data, schema)


# ---------------------------------------------------------------------------
def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC (beyond-reference: columnar formats are the native
    interchange at scale; splittable, predicate-pushdown-capable —
    symmetric with the parquet fast path in ``read``)."""
    return spark.read.options(**options).orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str | None = None,
             sanitize: bool = True, dedupe: bool = False) -> DataFrame:
    """XML records (beyond-reference: meza stops at HTML tables,
    ref meza/io.py:1333-1431; flat XML exports are the same shape).

    Driver-side stdlib ``ElementTree`` parse per file — same per-file
    model as ``read_html`` (non-splittable markup; at scale many files
    parallelize via ``io_join``/the custom datasource, not one giant
    file). The record element is ``row_tag`` or auto-detected as the
    most common direct child tag of the root; attributes and leaf
    children become columns, namespaces are stripped to local names.
    """
    import xml.etree.ElementTree as ET
    from collections import Counter

    def _local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    rows: list[dict] = []
    cols: list[str] = []
    for p in _all_files(path):
        root = ET.parse(p).getroot()  # noqa: S314 (stdlib parser, local file)
        tag = row_tag
        if tag is None:
            counts = Counter(_local(ch.tag) for ch in root)
            if not counts:
                continue
            tag = counts.most_common(1)[0][0]
        for el in root.iter():
            if _local(el.tag) != tag:
                continue
            rec = {_local(k): v for k, v in el.attrib.items()}
            for ch in el:
                if len(ch) == 0:  # leaf → column
                    rec[_local(ch.tag)] = ((ch.text or "").strip()
                                           or None)
            if rec:
                rows.append(rec)
                for k in rec:
                    if k not in cols:
                        cols.append(k)
    names = _clean_header(cols, sanitize, dedupe)
    remap = dict(zip(cols, names))
    rows = [{remap[k]: v for k, v in r.items()} for r in rows]
    return _records_df(spark, rows, names)


# universal dispatch + concat
# ---------------------------------------------------------------------------

def _read_avro_dispatch(spark, path, **kwargs):
    from .avro import read_avro
    return read_avro(spark, path, **kwargs)


def _read_warc_dispatch(spark, path, **kwargs):
    from .warc import read_warc
    return read_warc(spark, path, **kwargs)


def _read_arrow_dispatch(spark, path, **kwargs):
    from .arrow_ipc import read_arrow
    return read_arrow(spark, path, **kwargs)


_READERS = {
    "csv": read_csv, "tsv": read_tsv, "json": read_json,
    "ndjson": read_ndjson, "jsonl": read_ndjson, "geojson": read_geojson,
    "yml": read_yaml, "yaml": read_yaml, "html": read_html,
    "htm": read_html, "xls": read_xls, "xlsx": read_xls,
    "sqlite": read_sqlite, "db": read_sqlite, "dbf": read_dbf,
    "mdb": read_mdb, "orc": read_orc, "xml": read_xml,
    "avro": _read_avro_dispatch, "warc": _read_warc_dispatch,
    "arrow": _read_arrow_dispatch, "feather": _read_arrow_dispatch,
}


def read(spark: SparkSession, path: str, ext: str | None = None,
         **kwargs) -> DataFrame:
    """Universal dispatcher by extension (ref: meza/io.py:1636-1692
    get_reader/read).

    ``http(s)://`` / ``ftp://`` URLs are fetched to a temp file first
    (driver-side, for the non-splittable python-parsed formats — the
    reference's requests-based remote reads, meza/io.py:278-301);
    distributed storage URIs (s3a/hdfs/...) go straight to Spark."""
    if path.split("://", 1)[0] in ("http", "https", "ftp"):
        import tempfile
        import urllib.request
        from urllib.parse import urlparse

        name = os.path.basename(urlparse(path).path) or "download"
        ext = (ext or os.path.splitext(name)[1].lstrip(".")).lower()
        with tempfile.NamedTemporaryFile(suffix=f"_{name}",
                                         delete=False) as f:
            with urllib.request.urlopen(path) as resp:  # noqa: S310
                ext = ext or ctype2ext(
                    resp.headers.get("content-type", ""))
                while chunk := resp.read(1 << 20):
                    f.write(chunk)
            path = f.name
    ext = (ext or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext == "parquet":
        return spark.read.parquet(path)
    if ext not in _READERS:
        raise ValueError(f"unsupported extension: {ext!r}")
    return _READERS[ext](spark, path, **kwargs)


def read_media(spark: SparkSession, path: str, with_meta: bool = True,
               recursive: bool = True, pattern: str | None = None,
               payload_col: str = "payload") -> DataFrame:
    """Directory (or glob) of media files → the canonical media
    frame: one row per file via Spark's ``binaryFile`` source —
    ``media_id`` (xxhash64 of the file path: stable across runs and
    executors), ``path``, ``length``, and the raw bytes as
    ``payload`` — ready for :func:`meza_spark.llm.multimodal
    .decode_image` / ``decode_audio`` / ``decode_video``.

    ``with_meta=True`` adds the JVM-side magic-byte sniff columns
    (``format``/``n_bytes``/``payload_sha`` — no Python, no decode),
    so format-partitioned routing (images → decode_image, audio →
    decode_audio) stays a codegen'd filter.

    Scale shape: files are unsplittable, but binaryFile BIN-PACKS
    many small files per task (maxPartitionBytes / openCostInBytes,
    like any file source), so a 10M-small-file lake becomes a
    sanely-sized scan rather than 10M tasks; each payload still
    materializes whole inside its task, so shard multi-GB videos
    upstream. For tar-sharded corpora use :func:`read_webdataset`
    instead — far fewer, larger objects."""
    from ..llm.multimodal import attach_media_meta

    r = spark.read.format("binaryFile")
    if pattern:
        r = r.option("pathGlobFilter", pattern)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    df = r.load(path).select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.col("path"),
        F.col("length"),
        F.col("content").alias(payload_col))
    return attach_media_meta(df, payload_col) if with_meta else df


def io_join(spark: SparkSession, *paths: str, **kwargs) -> DataFrame:
    """Multi-file concat (ref: meza/io.py:1695-1722, csvstack-style):
    union with ragged-schema tolerance — missing columns become null
    (the reference's ragged-dict semantics, SURVEY §1.1)."""
    from functools import reduce

    dfs = [read(spark, p, **kwargs) for p in paths]
    dfs = [d.select([F.col(c).cast("string").alias(c) for c in d.columns])
           for d in dfs]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _first_file(path: str) -> str:
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if not name.startswith((".", "_")):
                return os.path.join(path, name)
    return path


def _all_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return [os.path.join(path, n) for n in sorted(os.listdir(path))
                if not n.startswith((".", "_"))]
    return [path]


def _sized_local_df(spark: SparkSession, data: list, schema) -> DataFrame:
    """Driver rows → DataFrame with a DATA-SIZED partition count.

    ``createDataFrame(list)`` always parallelizes into
    defaultParallelism slices, so a 14-row golden fixture becomes 32
    near-empty Python partitions: every downstream take/collect
    (detect_types' sample head, the golden-gate renders) schedules a
    job across all of them, and coalescing ABOVE the frame is worse —
    the scan of a Python-parallelized relation is itself a Python
    runner invocation PER PARENT PARTITION, so one coalesced task pays
    32 sequential worker round-trips (measured 3.6 s on a 14-row
    frame). Sizing ``numSlices`` at the parallelize is the fix
    (optimization r10, guide §6 small-files analogue): one slice per
    10 k rows, order-preserving, and ``spread()`` re-widens any
    consumer that needs compute parallelism. The caller supplies the
    schema inferred/validated by the list-path ``createDataFrame``,
    so types and verification semantics are unchanged."""
    n_parts = max(1, min(len(data) // 10_000 + 1,
                         spark.sparkContext.defaultParallelism))
    if n_parts >= spark.sparkContext.defaultParallelism:
        return spark.createDataFrame(data, schema=schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, n_parts), schema=schema)


def _records_df(spark: SparkSession, rows: list[dict],
                names: Sequence[str]) -> DataFrame:
    """Ragged records → DataFrame: union of key sets, missing → null,
    column order = first-seen order (SURVEY §7 hard-part 7)."""
    cols = list(names)
    seen = set(cols)
    for r in rows:
        for k in r:
            if k not in seen:
                seen.add(k)
                cols.append(k)
    if not rows:
        from pyspark.sql.types import StringType, StructField, StructType

        return spark.createDataFrame(
            [], StructType([StructField(c, StringType()) for c in cols]))
    norm = [tuple(r.get(c) for c in cols) for r in rows]
    try:
        return _sized_local_df(spark, norm, spark.createDataFrame(
            norm, schema=cols).schema)
    except (ValueError, TypeError):
        # Two inference defeats: a column that is None in every row
        # (always-null GeoJSON property, empty DBF field) → "Some of
        # types cannot be determined" (ValueError); a column mixing
        # int and float, or numbers and text (messy spreadsheets) →
        # CANNOT_MERGE_TYPE (PySparkTypeError, a TypeError). Build an
        # explicit schema from observed python values — widen
        # int+float to double, anything else mixed to string — and
        # coerce the values to match.
        import datetime as _dt
        import decimal as _dec

        from pyspark.sql.types import (BooleanType, DateType, DecimalType,
                                       DoubleType, LongType, StringType,
                                       StructField, StructType,
                                       TimestampType)

        def _spark_type(i):
            kinds = set()
            for row in norm:
                v = row[i]
                if v is None:
                    continue
                if isinstance(v, bool):
                    kinds.add("bool")
                elif isinstance(v, int):
                    kinds.add("int")
                elif isinstance(v, float):
                    kinds.add("float")
                elif isinstance(v, _dec.Decimal):
                    kinds.add("dec")
                elif isinstance(v, _dt.datetime):
                    kinds.add("ts")
                elif isinstance(v, _dt.date):
                    kinds.add("date")
                else:
                    kinds.add("str")
            if not kinds:
                return StringType()
            if len(kinds) == 1:
                return {"bool": BooleanType(), "int": LongType(),
                        "float": DoubleType(), "dec": DecimalType(38, 18),
                        "ts": TimestampType(), "date": DateType(),
                        "str": StringType()}[kinds.pop()]
            if kinds <= {"int", "float"}:
                return DoubleType()
            return StringType()

        schema = StructType([StructField(c, _spark_type(i))
                             for i, c in enumerate(cols)])

        def _coerce(v, t):
            if v is None:
                return None
            if isinstance(t, DoubleType) and isinstance(v, int) \
                    and not isinstance(v, bool):
                return float(v)
            if isinstance(t, StringType) and not isinstance(v, str):
                return str(v)
            return v

        fixed = [tuple(_coerce(v, f.dataType)
                       for v, f in zip(row, schema.fields))
                 for row in norm]
        return _sized_local_df(spark, fixed, schema)


def _per_file(spark: SparkSession, path: str, parse) -> DataFrame:
    """Non-splittable format runner: one python parse per FILE.

    Single file → driver parse (it's one task's work either way).
    Many files → ``parallelize(paths).flatMap(parse)`` so each file is
    an executor task (schema from a driver parse of the first file) —
    SURVEY §4.2.3's across-files parallelism.
    """
    files = _all_files(path)
    first_rows = parse(files[0])
    if len(files) == 1:
        return _records_df(spark, first_rows,
                           list(first_rows[0].keys()) if first_rows else [])
    template = _records_df(spark, first_rows,
                           list(first_rows[0].keys()) if first_rows else [])
    schema = template.schema
    cols = template.columns
    rest = spark.sparkContext.parallelize(files[1:], len(files) - 1) \
        .flatMap(lambda p: [tuple(r.get(c) for c in cols)
                            for r in parse(p)])
    return template.unionByName(spark.createDataFrame(rest, schema=schema))


def read_csv_distributed(spark: SparkSession, path: str,
                         has_header: bool = True,
                         custom_header: Sequence[str] | None = None,
                         delimiter: str = ",", quotechar: str = '"',
                         encoding: str | None = None,
                         sanitize: bool = False, dedupe: bool = True,
                         first_row: int = 0, first_col: int = 0,
                         last_row: int | None = None) -> DataFrame:
    """The messy-file CSV parser, on executors: per-file encoding
    detection (``encoding=None``) + mid-stream recovery + row/col
    slicing (ref semantics: meza/io.py:456-502; the reference is
    single-threaded, this is one task per file). ``read_csv`` routes
    every file it cannot hand to ``spark.read.csv`` here.

    Each file rides Spark's ``binaryFile`` source as one row; a
    ``mapInPandas`` stage decodes it (BOM sniff → ladder → mid-stream
    re-detection), slices it, drops its header line and fully-empty
    rows, and csv-parses it locally. A directory of 10k
    mixed-encoding exports becomes a 10k-task scan — the right shape
    for non-splittable messy files. For ONE huge clean file use
    ``read_csv`` (splittable scan); ``binaryFile`` necessarily
    materializes a whole file per task.

    Schema (all strings, meza's reader contract) comes from a bounded
    driver read of the first file's header region; ragged files pad
    missing columns with null and drop extras beyond the header.

    Gzipped members decompress in-task (magic-byte sniff — .csv.gz
    log drops just work); ``delimiter='auto'`` sniffs the dialect
    from the first file with stdlib ``csv.Sniffer``.

    Memory hazard: binaryFile materializes each member in-task, and
    gzip AMPLIFIES that — a member's decompressed text (often 5-20x
    the .gz size) must also fit in executor memory; the in-task
    decompression streams in 1 MiB chunks (no single huge
    bytes-object doubling), but a multi-GB decompressed member still
    needs a matching executor heap. Split oversized archives upstream.
    """
    import gzip as _gzip
    import io as _io
    import itertools as _it

    import pandas as _pd

    first = _first_file(path)
    with open(first, "rb") as f:
        head_bytes = f.read(1 << 16)
    if head_bytes[:2] == b"\x1f\x8b":
        # stream-decompress ONLY the header region — never the whole
        # member (a multi-GB .csv.gz would otherwise inflate on the
        # driver just to sniff 64 KB)
        with _gzip.open(first, "rb") as f:
            head_bytes = f.read(1 << 16)
    if delimiter == "auto":
        sample = _decode_with_recovery(
            head_bytes, encoding or _detect_bytes(head_bytes))
        try:
            delimiter = _csv.Sniffer().sniff(
                sample[:4096], delimiters=",;\t|").delimiter
        except _csv.Error:
            delimiter = ","
    head_text = _decode_with_recovery(
        head_bytes, encoding or _detect_bytes(head_bytes))
    head_rows = list(_it.islice(
        _csv.reader(_io.StringIO(head_text, newline=""),
                    delimiter=delimiter, quotechar=quotechar),
        first_row + 1))
    if custom_header is not None:
        names = list(custom_header)
    elif has_header and len(head_rows) > first_row:
        names = head_rows[first_row][first_col:]
    else:  # empty/short first file: fall back to positional names
        width = (len(head_rows[first_row][first_col:])
                 if len(head_rows) > first_row else 0)
        names = [f"column_{i + 1}" for i in range(width)]
    names = _clean_header(names, sanitize, dedupe)
    if not names:
        raise ValueError(
            f"read_csv_distributed: could not derive a header from "
            f"{first!r} (empty first file?); pass custom_header=")
    n = len(names)
    schema = ", ".join(f"`{c}` string" for c in names)

    skip_first = bool(has_header)
    enc_hint = encoding

    def _parse(batches):
        for pdf in batches:
            out: list[list] = []
            for content in pdf["content"]:
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    # stream-decompress in chunks: gzip.decompress on
                    # the whole member would hold compressed + a
                    # monolithic decompressed bytes simultaneously
                    chunks = []
                    with _gzip.GzipFile(fileobj=_io.BytesIO(data)) as gz:
                        while True:
                            c = gz.read(1 << 20)
                            if not c:
                                break
                            chunks.append(c)
                    data = b"".join(chunks)
                text = _decode_with_recovery(
                    data, enc_hint or _detect_bytes(data[:1 << 16]))
                rdr = _csv.reader(_io.StringIO(text, newline=""),
                                  delimiter=delimiter, quotechar=quotechar)
                lines = [r[first_col:] for r in rdr][first_row:]
                if last_row is not None:
                    lines = lines[:last_row]
                if skip_first:
                    lines = lines[1:]
                for line in lines:
                    if any(v.strip() for v in line):
                        out.append((line + [None] * n)[:n])
            yield _pd.DataFrame(out, columns=names)

    return (spark.read.format("binaryFile").load(path)
            .select("content").mapInPandas(_parse, schema))
