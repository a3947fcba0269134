"""Writers (reference: meza/convert.py records2* + meza/io.py write).

Distributed-first: every writer has a ``single_file`` escape hatch for
meza-parity small outputs (driver-side assembly), but the default path
is executor-parallel ``df.write`` — at 100 TB nothing should funnel
through the driver.
"""

from __future__ import annotations

import json as _json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["records2csv", "records2tsv", "records2json", "records2geojson",
           "records2fixed", "records2html", "records2xlsx", "records2dbf",
           "records2sqlite", "records2yaml", "records2xml", "records2mdb",
           "write", "write_bucketed",
           "hash_file"]


def hash_file(path_or_df, algo: str = "sha1", spark=None):
    """File content digest (ref: meza/io.py:1504-1551).

    Driver path: ``hash_file('/p/file')`` → hex digest via hashlib.
    Distributed path: ``hash_file(dir, spark=spark)`` → DataFrame of
    (path, digest) over Spark's binaryFile source — hash 1M files in
    parallel instead of one driver loop.
    """
    import hashlib

    if spark is not None:
        df = spark.read.format("binaryFile").load(path_or_df)
        if algo == "sha1":
            h = F.sha1("content")
        elif algo == "md5":
            h = F.md5("content")
        else:
            h = F.sha2("content", int(algo.replace("sha", "") or 256))
        return df.select("path", h.alias("digest"))
    h = hashlib.new(algo)
    with open(path_or_df, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _collapse_part(dir_path: str, final_path: str, ext: str):
    part = next(p for p in sorted(os.listdir(dir_path))
                if p.startswith("part-") and p.endswith(ext))
    shutil.move(os.path.join(dir_path, part), final_path)
    shutil.rmtree(dir_path)


def records2csv(df: DataFrame, path: str, header: bool = True,
                single_file: bool = False, **options) -> None:
    """DataFrame → CSV (ref: meza/convert.py:807-849; header from
    column order, which the engine preserves end-to-end).

    Default: distributed ``df.write.csv`` (one file per partition).
    ``single_file=True``: coalesce(1) + collapse — the meza-style one
    .csv artifact; only for driver-sized results.
    """
    # RFC 4180 quoting (doubled "" escapes, like the reference's python
    # csv.writer) unless the caller overrides `escape`
    options.setdefault("escape", '"')
    w = (df.coalesce(1) if single_file else df).write.mode("overwrite") \
        .option("header", str(header).lower()).options(**options)
    if single_file:
        tmp = path + ".d"
        w.csv(tmp)
        _collapse_part(tmp, path, ".csv")
    else:
        w.csv(path)


def records2json(df: DataFrame, path: str, newline: bool = True,
                 single_file: bool = False) -> None:
    """DataFrame → JSON (ref: meza/convert.py:852-892): NDJSON by
    default (splittable, scalable); ``newline=False`` writes one JSON
    array — a single object by definition, but STREAMED to disk via
    ``toJSON().toLocalIterator()`` (executors serialize, the driver
    holds one partition at a time, never the whole result), matching
    the reference's array form without its all-in-memory cost."""
    if newline and not single_file:
        df.write.mode("overwrite").json(path)
        return
    if newline:
        tmp = path + ".d"
        df.coalesce(1).write.mode("overwrite").json(tmp)
        _collapse_part(tmp, path, ".json")
        return
    with open(path, "w", encoding="utf-8") as f:
        f.write("[")
        for i, line in enumerate(df.toJSON().toLocalIterator()):
            f.write(",\n " if i else "")
            f.write(line)
        f.write("]")


def records2geojson(df: DataFrame, path: str, id_col: str = "id",
                    lon_col: str = "lon", lat_col: str = "lat",
                    pos_col: str = "pos", seq_col: str = "seq") -> None:
    """Flat records → GeoJSON FeatureCollection with computed global
    bbox (ref: meza/convert.py:998-1099, gen_subresults 980-995,
    bbox 1061-1088).

    Spark-first: per-feature assembly is a ``groupBy(id)`` +
    ``collect_list(struct(pos,seq,lon,lat))`` aggregation sorted by
    (ring, vertex order); the bbox is a global min/max agg — both
    distributed. Only the final FeatureCollection wrapper (one JSON
    object by definition) materializes on the driver.

    Geometry fidelity: ``read_geojson`` emits ``seq`` (vertex order)
    and ``pos`` (polygon ring index); sorting on (pos, seq) rebuilds
    LineString vertex order exactly and groups Polygon coordinates
    back into their original rings. When those columns are absent
    (hand-built frames), vertices fall back to (lon, lat) sort —
    deterministic, but order-preserving only for Points.
    """
    has_pos = pos_col in df.columns
    has_seq = seq_col in df.columns
    # the reference's black_list is {type, lon, lat} ONLY — the
    # feature id stays in properties too (meza/convert.py:929-943,
    # pinned by examples/usage.py); pos/seq are this engine's own
    # vertex-order bookkeeping and never belong in properties
    skip = {lon_col, lat_col, "type"}
    skip |= {pos_col} if has_pos else set()
    skip |= {seq_col} if has_seq else set()
    prop_cols = [c for c in df.columns if c not in skip]
    bbox_row = df.agg(F.min(lon_col), F.min(lat_col),
                      F.max(lon_col), F.max(lat_col)).collect()[0]
    bbox = [float(v) for v in bbox_row]

    pos_expr = (F.coalesce(F.col(pos_col).cast("long"), F.lit(0))
                if has_pos else F.lit(0))
    seq_parts = ([F.coalesce(F.col(seq_col).cast("long"),
                             F.lit(0)).alias("seq")] if has_seq else [])
    gtype_expr = (F.first("type") if "type" in df.columns
                  else F.lit("Point"))  # no geometry-type column → Points
    grouped = (df.groupBy(id_col)
               .agg(gtype_expr.alias("_gtype"),
                    F.sort_array(F.collect_list(F.struct(
                        pos_expr.alias("pos"), *seq_parts,
                        F.col(lon_col).alias("lon"),
                        F.col(lat_col).alias("lat")))).alias("_coords"),
                    *[F.first(c, ignorenulls=True).alias(c)
                      for c in prop_cols]))
    feats = []
    for r in grouped.collect():
        gtype = r["_gtype"]
        if gtype == "Point":
            c0 = r["_coords"][0]
            geometry = {"type": "Point", "coordinates": [c0["lon"],
                                                         c0["lat"]]}
        elif gtype == "LineString":
            geometry = {"type": "LineString",
                        "coordinates": [[c["lon"], c["lat"]]
                                        for c in r["_coords"]]}
        else:
            rings: list[list[list[float]]] = []
            for c in r["_coords"]:  # already sorted by (pos, seq)
                while len(rings) <= c["pos"]:
                    rings.append([])
                rings[c["pos"]].append([c["lon"], c["lat"]])
            geometry = {"type": "Polygon", "coordinates": rings}
        feats.append({
            "type": "Feature", "id": r[id_col], "geometry": geometry,
            "properties": {c: r[c] for c in prop_cols},
        })
    feats.sort(key=lambda f: (f["id"] is None, f["id"]))
    collection = {"type": "FeatureCollection", "bbox": bbox,
                  "features": feats,
                  # the reference always stamps its default CRS
                  # (meza/convert.py:1050-1057, examples/usage.py)
                  "crs": {"type": "name", "properties": {
                      "name": "urn:ogc:def:crs:OGC:1.3:CRS84"}}}
    with open(path, "w", encoding="utf-8") as f:
        _json.dump(collection, f, default=float)


def write(df: DataFrame, path: str, fmt: str | None = None,
          partition_by=None, mode: str = "overwrite", **options) -> None:
    """Generic sink dispatcher (ref: meza/io.py:1434-1501 ``write`` —
    there a file flusher; here the ``df.write`` facade)."""
    fmt = fmt or os.path.splitext(path)[1].lstrip(".") or "parquet"
    fmt = {"jsonl": "json", "ndjson": "json"}.get(fmt, fmt)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    for k, v in options.items():
        w = w.option(k, v)
    getattr(w, fmt)(path)


def write_bucketed(df: DataFrame, table: str, bucket_by: str | list[str],
                   n_buckets: int = 32, sort_by=None,
                   fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Bucketed table write — the co-located-join primitive at scale.

    Two tables bucketed on the same key with the same bucket count
    sort-merge-join WITHOUT an Exchange on either side: the shuffle is
    paid once at write time, then every subsequent join/groupBy on the
    bucket key is shuffle-free. This is the 100 TB answer for a fact
    table joined repeatedly on the same key (orders⋈lineitem); the
    reference has no analog (its only join is a nested loop,
    meza/process.py:785-810).
    """
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = (df.write.mode(mode).format(fmt)
         .bucketBy(n_buckets, *cols))
    if sort_by:
        sb = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sb)
    w.saveAsTable(table)


# ---------------------------------------------------------------------------
# single-artifact sinks (meza-parity formats)
#
# TSV/fixed-width/HTML/XLSX/DBF/SQLite/YAML are one-file formats the
# reference can read (meza/io.py read_* family); meza itself only ever
# WRITES csv/json/geojson (meza/convert.py), so these sinks close the
# round-trip the reference leaves open.  They are driver-side streamed
# writers by design: the formats are non-splittable single artifacts
# (config tables, exports), so the scalable path for big data remains
# ``write()`` (parquet/csv/json); every function below streams
# ``toLocalIterator()`` so the driver holds ONE partition at a time,
# never the full result.
# ---------------------------------------------------------------------------

def _string_rows(df: DataFrame):
    """Iterate rows with cells normalized to display strings."""
    for row in df.toLocalIterator():
        yield ["" if v is None else str(v) for v in row]


def records2tsv(df: DataFrame, path: str, header: bool = True,
                single_file: bool = False, **options) -> None:
    """DataFrame → TSV (ref: meza/io.py:853-893 excel-tab dialect)."""
    options.setdefault("delimiter", "\t")
    records2csv(df, path, header=header, single_file=single_file, **options)


def records2fixed(df: DataFrame, path: str,
                  widths: "list[int] | None" = None,
                  header: bool = True) -> None:
    """DataFrame → fixed-width text (inverse of read_fixed_fmt,
    ref: meza/io.py:896-960).

    Column widths default to the observed max display width — computed
    DISTRIBUTED as one ``max(length(...))`` aggregate, not by scanning
    rows on the driver. Cells are left-aligned space-padded, matching
    the reference's ``zip_longest`` slicing contract (read back with
    ``widths=[0, w0, w0+w1, ...]`` start offsets).
    """
    cols = df.columns
    sdf = df.select([F.coalesce(F.col(c).cast("string"), F.lit(""))
                     .alias(c) for c in cols])
    if widths is None:
        maxes = sdf.agg(*[F.max(F.length(c)).alias(c) for c in cols]) \
            .collect()[0]
        widths = [max(int(maxes[c] or 0), len(c) if header else 0) + 1
                  for c in cols]
    with open(path, "w", encoding="utf-8") as f:
        if header:
            f.write("".join(c.ljust(w) for c, w in zip(cols, widths))
                    .rstrip() + "\n")
        for cells in _string_rows(sdf):
            f.write("".join(v.ljust(w) for v, w in zip(cells, widths))
                    .rstrip() + "\n")


def records2html(df: DataFrame, path: str, table_attrs: str = "") -> None:
    """DataFrame → one HTML <table> with a <th> header row (inverse of
    read_html, ref: meza/io.py:1333-1431)."""
    from html import escape

    with open(path, "w", encoding="utf-8") as f:
        f.write("<!DOCTYPE html><html><body><table%s>\n"
                % ((" " + table_attrs) if table_attrs else ""))
        f.write("<tr>" + "".join(f"<th>{escape(c)}</th>"
                                 for c in df.columns) + "</tr>\n")
        for cells in _string_rows(df):
            f.write("<tr>" + "".join(f"<td>{escape(v)}</td>"
                                     for v in cells) + "</tr>\n")
        f.write("</table></body></html>\n")


def records2xml(df: DataFrame, path: str, root_tag: str = "records",
                row_tag: str = "record") -> None:
    """DataFrame → flat XML (inverse of ``read_xml``): one ``row_tag``
    element per row, one leaf child per column; NULL cells are omitted
    (read_xml yields them back as NULL). Streamed via
    ``toLocalIterator`` like the other single-artifact writers."""
    from xml.sax.saxutils import escape

    cols = df.columns
    with open(path, "w", encoding="utf-8") as f:
        f.write(f"<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<{root_tag}>\n")
        for row in df.toLocalIterator():
            f.write(f"  <{row_tag}>")
            for c, v in zip(cols, row):
                if v is not None:
                    f.write(f"<{c}>{escape(str(v))}</{c}>")
            f.write(f"</{row_tag}>\n")
        f.write(f"</{root_tag}>\n")


def records2xlsx(df: DataFrame, path: str) -> None:
    """DataFrame → minimal spec-conformant .xlsx (inverse of read_xls,
    ref: meza/io.py:1033-1118): stdlib zipfile + worksheet XML, inline
    strings, numeric cells as <v>. Booleans use the native ``b`` cell
    type; everything else stringifies."""
    import zipfile
    from xml.sax.saxutils import escape

    def cell_xml(ref, v):
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}'
                '</t></is></c>')

    def col_ref(ci):
        s = ""
        ci += 1
        while ci:
            ci, r = divmod(ci - 1, 26)
            s = chr(65 + r) + s
        return s

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    ct = ('<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats'
          '.org/package/2006/content-types">'
          '<Default Extension="rels" ContentType="application/vnd.openxml'
          'formats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="appl'
          'ication/vnd.openxmlformats-officedocument.spreadsheetml.workshee'
          't+xml"/></Types>')
    rels = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
            'xmlformats.org/package/2006/relationships"><Relationship Id="r'
            'Id1" Type="http://schemas.openxmlformats.org/officeDocument/20'
            '06/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>')
    wb = (f'<?xml version="1.0"?><workbook {ns} xmlns:r="http://schemas.ope'
          'nxmlformats.org/officeDocument/2006/relationships"><sheets><shee'
          't name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
    wb_rels = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.o'
               'penxmlformats.org/package/2006/relationships"><Relationship'
               ' Id="rId1" Type="http://schemas.openxmlformats.org/officeDo'
               'cument/2006/relationships/worksheet" Target="worksheets/she'
               'et1.xml"/></Relationships>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        with z.open("xl/worksheets/sheet1.xml", "w") as sf:
            sf.write(f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                     .encode())
            hdr = "".join(cell_xml(f"{col_ref(ci)}1", c)
                          for ci, c in enumerate(df.columns))
            sf.write(f'<row r="1">{hdr}</row>'.encode())
            ri = 2
            for row in df.toLocalIterator():
                cells = "".join(cell_xml(f"{col_ref(ci)}{ri}", v)
                                for ci, v in enumerate(row))
                sf.write(f'<row r="{ri}">{cells}</row>'.encode())
                ri += 1
            sf.write(b"</sheetData></worksheet>")


def records2xls(df: DataFrame, path: str) -> None:
    """DataFrame → legacy BIFF8 .xls (inverse of the native read_xls
    path, ref: meza/io.py:1033-1118): header row + cells via the
    stdlib OLE2/BIFF writer in io/xls.py — RK for small ints, NUMBER
    for doubles, SST+LABELSST for strings, BOOLERR for booleans,
    serial-date NUMBER cells for datetimes. Driver-side single
    artifact like the other office sinks (bounded toLocalIterator)."""
    from .xls import write_biff

    grid: list[list] = [list(df.columns)]
    for row in df.toLocalIterator():
        grid.append(list(row))
    write_biff(grid, path)


def records2mdb(df: DataFrame, path: str, table_name: str = "data",
                version: int = 4,
                memo_threshold: int | None = None) -> None:
    """DataFrame → MS Access .mdb (inverse of read_mdb, ref:
    meza/io.py:598-674 reads them; mdbtools has no writer, so this is
    the minimal Jet builder in io/mdb.py). ``version`` 4 = Jet4
    (Access 2000+, 4 KB pages), 3 = Jet3 (Access 97, 2 KB pages —
    wide rows emit the jump-table var-offset layout). Column types
    follow the schema: bool/ints/float/decimal/timestamp/string/
    binary → BOOL/LONGINT/DOUBLE/MONEY/DATETIME/TEXT/BINARY; with
    ``memo_threshold``, long text becomes MEMO on LVAL pages.
    Driver-side single artifact like the other office sinks (the
    format is hard-capped at 2 GB)."""
    from decimal import Decimal

    from .mdb import build_jet

    type_map = {}
    for f_ in df.schema.fields:
        t = f_.dataType.simpleString()
        if t in ("tinyint", "smallint", "int", "bigint"):
            type_map[f_.name] = int
        elif t.startswith("decimal"):
            type_map[f_.name] = Decimal

    def conv(name, v):
        if v is None:
            return None
        want = type_map.get(name)
        return want(v) if want is not None else v

    recs = [{c: conv(c, row[c]) for c in df.columns}
            for row in df.toLocalIterator()]
    with open(path, "wb") as f:
        f.write(build_jet({table_name: recs}, version=version,
                          memo_threshold=memo_threshold))


def records2dbf(df: DataFrame, path: str) -> None:
    """DataFrame → dBase III .dbf (inverse of read_dbf,
    ref: meza/io.py:677-722; field descriptors per the public spec).

    Field specs derive from the schema: int/long → N(dec=0),
    float/double/decimal → N(dec=6), boolean → L, date → D, else
    C(max observed width). Widths come from one distributed
    ``max(length)`` aggregate; the record count is patched into the
    header after the streamed write (single data pass).
    """
    import struct

    cols = df.columns
    specs = []  # (name, type, len, dec)
    for f_ in df.schema.fields:
        t = f_.dataType.simpleString()
        if t in ("tinyint", "smallint", "int", "bigint"):
            specs.append((f_.name, "N", None, 0))
        elif t in ("float", "double") or t.startswith("decimal"):
            specs.append((f_.name, "N", None, 6))
        elif t == "boolean":
            specs.append((f_.name, "L", 1, 0))
        elif t == "date":
            specs.append((f_.name, "D", 8, 0))
        else:
            specs.append((f_.name, "C", None, 0))
    disp = df.select([
        (F.date_format(c, "yyyyMMdd") if s[1] == "D" else
         F.when(F.col(c), "T").otherwise("F") if s[1] == "L" else
         F.col(c).cast("string")).alias(c)
        for c, s in zip(cols, specs)])
    need = [c for c, s in zip(cols, specs) if s[2] is None]
    if need:
        maxes = disp.agg(*[F.max(F.length(c)).alias(c) for c in need]) \
            .collect()[0]
        specs = [(n, t, ln if ln is not None
                  else min(max(int(maxes[n] or 1), 1), 254), dec)
                 for (n, t, ln, dec) in specs]
    hdr_len = 32 + 32 * len(specs) + 1
    rec_len = 1 + sum(s[2] for s in specs)
    n = 0
    with open(path, "wb") as f:
        f.write(struct.pack("<BBBBIHH20x", 0x03, 24, 1, 1, 0,
                            hdr_len, rec_len))
        for name, ftype, flen, fdec in specs:
            f.write(struct.pack("<11sc4xBB14x",
                                name.encode("ascii", "replace")[:11]
                                .ljust(11, b"\x00"),
                                ftype.encode(), flen, fdec))
        f.write(b"\x0d")
        for row in disp.toLocalIterator():
            f.write(b" ")
            for (name, ftype, flen, fdec), val in zip(specs, row):
                s = "" if val is None else str(val)
                raw = (s.rjust(flen) if ftype == "N" else s.ljust(flen))
                f.write(raw.encode("ascii", "replace")[:flen])
            n += 1
        f.write(b"\x1a")
        f.seek(4)
        f.write(struct.pack("<I", n))


def records2sqlite(df: DataFrame, path: str,
                   table: str = "main_table",
                   batch_size: int = 10_000) -> None:
    """DataFrame → SQLite table (inverse of read_sqlite,
    ref: meza/io.py:725-760), stdlib sqlite3, batched executemany."""
    import sqlite3

    type_map = {"tinyint": "INTEGER", "smallint": "INTEGER",
                "int": "INTEGER", "bigint": "INTEGER",
                "float": "REAL", "double": "REAL", "boolean": "INTEGER"}
    cols = ", ".join(
        f'"{f_.name}" {type_map.get(f_.dataType.simpleString(), "TEXT")}'
        for f_ in df.schema.fields)
    norm = df.select([
        F.col(f_.name).cast("long").alias(f_.name)
        if f_.dataType.simpleString() == "boolean" else
        F.col(f_.name).cast("string").alias(f_.name)
        if f_.dataType.simpleString() not in type_map else F.col(f_.name)
        for f_ in df.schema.fields])
    con = sqlite3.connect(path)
    try:
        con.execute(f'DROP TABLE IF EXISTS "{table}"')
        con.execute(f'CREATE TABLE "{table}" ({cols})')
        ph = ", ".join("?" * len(df.columns))
        batch = []
        for row in norm.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                con.executemany(f'INSERT INTO "{table}" VALUES ({ph})',
                                batch)
                batch = []
        if batch:
            con.executemany(f'INSERT INTO "{table}" VALUES ({ph})', batch)
        con.commit()
    finally:
        con.close()


def records2yaml(df: DataFrame, path: str) -> None:
    """DataFrame → YAML list-of-mappings (inverse of read_yaml,
    ref: meza/io.py:1254-1287). Import-gated on PyYAML; streams one
    record block at a time."""
    try:
        import yaml  # type: ignore
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("records2yaml requires PyYAML") from e

    cols = df.columns
    with open(path, "w", encoding="utf-8") as f:
        for row in df.toLocalIterator():
            f.write(yaml.safe_dump([{c: row[c] for c in cols}],
                                   sort_keys=False,
                                   default_flow_style=False,
                                   allow_unicode=True))
