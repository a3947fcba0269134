"""Reader/writer tests mirroring the reference's io test matrix
(SURVEY §5: encodings, header hygiene, slicing, geojson round-trip).
Fixtures are synthesized per FIXTURES.md — no reference data copied."""

import json
import os
import sqlite3
import struct
import zipfile

import pytest
from pyspark.sql import functions as F

from meza_spark import io as mio


# ---------------------------------------------------------------------------
# fixture builders
# ---------------------------------------------------------------------------

def _write(tmp, name, text, encoding="utf-8"):
    p = str(tmp / name)
    with open(p, "w", encoding=encoding, newline="") as f:
        f.write(text)
    return p


def _make_xlsx(path, rows):
    """Minimal spec-conformant xlsx: inline strings + numbers."""
    def cell_xml(ref, v):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = "".join(cell_xml(f"{chr(65 + ci)}{ri}", v)
                        for ci, v in enumerate(row))
        body.append(f'<row r="{ri}">{cells}</row>')
    sheet = (f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
             f'{"".join(body)}</sheetData></worksheet>')
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml",
                   '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
                   'formats.org/package/2006/content-types"/>')
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return path


def _make_dbf(path, fields, records):
    """Minimal dBase III file: fields = [(name, type, len, dec)]."""
    hdr_len = 32 + 32 * len(fields) + 1
    rec_len = 1 + sum(f[2] for f in fields)
    buf = bytearray()
    buf += struct.pack("<BBBBIHH20x", 0x03, 24, 1, 1, len(records),
                       hdr_len, rec_len)
    for name, ftype, flen, fdec in fields:
        buf += struct.pack("<11sc4xBB14x", name.encode().ljust(11, b"\x00"),
                           ftype.encode(), flen, fdec)
    buf += b"\x0d"
    for rec in records:
        buf += b" "
        for (name, ftype, flen, fdec), val in zip(fields, rec):
            s = str(val)
            if ftype == "N":
                buf += s.rjust(flen).encode()[:flen]
            else:
                buf += s.ljust(flen).encode()[:flen]
    buf += b"\x1a"
    with open(path, "wb") as f:
        f.write(bytes(buf))
    return path


# ---------------------------------------------------------------------------
# encodings (FIXTURES §7)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("enc", ["utf-8", "utf-8-sig", "latin-1",
                                 "windows-1252", "utf-16-le", "utf-16-be"])
def test_csv_encodings(spark, tmp_path, enc):
    text = "a,b,c\n1,2,3\n4,5,©\n"
    p = str(tmp_path / f"{enc}.csv")
    raw = text.encode(enc)
    if enc == "utf-16-le":
        raw = b"\xff\xfe" + raw
    elif enc == "utf-16-be":
        raw = b"\xfe\xff" + raw
    with open(p, "wb") as f:
        f.write(raw)
    detected = mio.detect_encoding(p)
    df = mio.read_csv(spark, p, encoding=detected)
    rows = sorted([tuple(r) for r in df.collect()])
    assert df.columns == ["a", "b", "c"]
    assert rows == [("1", "2", "3"), ("4", "5", "©")]


def test_csv_header_hygiene(spark, tmp_path):
    # dupe headers (FIXTURES §8) + sanitize
    p = _write(tmp_path, "d.csv", "Some Col,Some Col,\n1,2,3\n")
    df = mio.read_csv(spark, p, sanitize=True)
    assert df.columns == ["some_col", "some_col_2", "column_3"]


@pytest.mark.parametrize("header,names,jobs", [
    ("id,Name,when", ["id", "Name", "when"], 0),
    ("id,name,name", ["id", "name", "name_2"], 1),
    ("id,Name,name", ["id", "Name", "name"], 1),
    ("id,,when", ["id", "column_2", "when"], 1),
])
def test_csv_header_names_and_jobs(spark, count_jobs, tmp_path, header, names,
                                   jobs):
    # a header Spark can take as a schema needs no inference job
    p = _write(tmp_path, "h.csv", f"{header}\n1,a,x\n2,b,y\n")
    df, n = count_jobs(lambda: mio.read_csv(spark, p))
    assert (df.columns, n) == (names, jobs)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("1", "a", "x"), ("2", "b", "y")]


def test_csv_no_header(spark, tmp_path):
    p = _write(tmp_path, "n.csv", "1,2,3\n4,5,6\n")
    df = mio.read_csv(spark, p, has_header=False)
    assert df.columns == ["column_1", "column_2", "column_3"]
    assert df.count() == 2


def test_csv_custom_header(spark, tmp_path):
    p = _write(tmp_path, "c.csv", "x,y\n1,2\n")
    df = mio.read_csv(spark, p, custom_header=["p", "q"])
    assert df.columns == ["p", "q"]
    assert df.collect()[0]["p"] == "1"


def test_csv_slicing(spark, tmp_path):
    # test_bad.csv semantics (FIXTURES §1): junk first row + junk first col
    p = _write(tmp_path, "bad.csv", "junk,junk,junk\nx,a,b\nx,1,2\nx,3,4\n")
    df = mio.read_csv(spark, p, first_row=1, first_col=1)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [("1", "2"), ("3", "4")]


def test_csv_last_row_negative(spark, tmp_path):
    # negative last_row keeps all but the tail (ref io.py:473-479)
    lines = "h\n" + "".join(f"{i}\n" for i in range(10))
    p = _write(tmp_path, "t.csv", lines)
    df = mio.read_csv(spark, p, first_row=0, last_row=-3)
    # header consumed after slicing; 10 data rows → minus 3 tail
    assert df.count() == 7


def test_csv_mid_read_encoding_recovery(spark, tmp_path):
    # clean utf-8 (with multibyte chars) for >64 KiB, then the file
    # switches to windows-1252 — detection sees only the clean head;
    # the read must recover mid-stream (ref meza/io.py:481-502) and
    # decode BOTH halves correctly
    n_head = 3000  # ~90 KiB of utf-8 rows, past the 64 KiB sample
    head = "".join(f"café {i},naïve {i}\n" for i in range(n_head))
    tail = "".join(f"caf\xe9 tail {i},fianc\xe9e {i}\n" for i in range(50))
    p = tmp_path / "switch.csv"
    p.write_bytes(("a,b\n" + head).encode("utf-8") +
                  tail.encode("windows-1252"))
    df = mio.read_csv(spark, str(p))
    rows = df.collect()
    assert len(rows) == n_head + 50
    got = {r["a"] for r in rows}
    assert "café 0" in got and f"café {n_head - 1}" in got
    assert "café tail 0" in got and "café tail 49" in got
    assert {r["b"] for r in rows if r["a"] == "café tail 49"} \
        == {"fiancée 49"}


def test_csv_directory_windows_1252(spark, tmp_path):
    # a charset Spark cannot scan: each file parses on an executor
    d = tmp_path / "cp1252"
    d.mkdir()
    (d / "a.csv").write_bytes("id,name\n1,café\n".encode("windows-1252"))
    (d / "b.csv").write_bytes(
        "id,name\n2,naïve – “q”\n\n3,€5\n".encode("windows-1252"))
    df = mio.read_csv(spark, str(d))
    assert df.columns == ["id", "name"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("1", "café"), ("2", "naïve – “q”"), ("3", "€5")]


def test_decode_with_recovery_unit():
    from meza_spark.io.readers import _decode_with_recovery

    data = "héllo utf8 ".encode("utf-8") + "à la 1252".encode("windows-1252")
    out = _decode_with_recovery(data, "utf-8")
    assert out.startswith("héllo utf8 ")
    assert out.endswith("la 1252")
    assert "à" in out
    # pure clean input is returned verbatim
    assert _decode_with_recovery("plain".encode(), "utf-8") == "plain"
    assert _decode_with_recovery(b"", "utf-8") == ""


def test_tsv(spark, tmp_path):
    p = _write(tmp_path, "t.tsv", "a\tb\n1\t2\n")
    df = mio.read_tsv(spark, p)
    assert df.collect()[0]["b"] == "2"


def test_fixed_fmt_with_header(spark, tmp_path):
    # FIXTURES §2 fixed_w_header style: widths are start offsets
    content = ("News Paper        Founded    Int\n"
               "Chicago Reader    1971-01-01 40 \n"
               "Village Voice     1955-10-26 36 \n")
    p = _write(tmp_path, "f.txt", content)
    df = mio.read_fixed_fmt(spark, p, widths=[0, 18, 29], has_header=True,
                            sanitize=True)
    assert df.columns == ["news_paper", "founded", "int"]
    got = {r["news_paper"]: r["founded"] for r in df.collect()}
    assert got["Chicago Reader"] == "1971-01-01"


def test_fixed_fmt_headerless(spark, tmp_path):
    p = _write(tmp_path, "f.txt", "aa11\nbb22\n")
    df = mio.read_fixed_fmt(spark, p, widths=[0, 2])
    assert df.columns == ["column_1", "column_2"]
    assert sorted(tuple(r) for r in df.collect()) == [("aa", "11"), ("bb", "22")]


def test_json_array_and_ndjson(spark, tmp_path):
    arr = _write(tmp_path, "a.json", json.dumps(
        [{"text": "Chicago Reader", "integer": 40},
         {"text": "Village Voice", "integer": 36}]))
    nd = _write(tmp_path, "n.json", '{"a": 2, "b": 3}\n{"b": 2, "d": 4}\n')
    da = mio.read_json(spark, arr)
    assert da.count() == 2 and set(da.columns) == {"text", "integer"}
    # ragged NDJSON (FIXTURES §4): union of keys, missing → null
    dn = mio.read_json(spark, nd)
    assert set(dn.columns) == {"a", "b", "d"}
    rows = sorted(dn.collect(), key=lambda r: r["b"])
    assert rows[0]["d"] == 4 and rows[0]["a"] is None


def test_geojson_roundtrip_with_bbox(spark, tmp_path):
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": 11,
         "geometry": {"type": "Point", "coordinates": [10.5, -2.25]},
         "properties": {"iso3": "AAA"}},
        {"type": "Feature", "id": 22,
         "geometry": {"type": "Point", "coordinates": [-70.1, 12.6]},
         "properties": {"iso3": "BBB"}},
    ]}
    src = _write(tmp_path, "g.geojson", json.dumps(fc))
    df = mio.read_geojson(spark, src)
    assert {"id", "type", "lon", "lat", "iso3"} <= set(df.columns)
    assert df.count() == 2
    out = str(tmp_path / "out.geojson")
    mio.records2geojson(df, out)
    with open(out) as f:
        back = json.load(f)
    assert back["bbox"] == [-70.1, -2.25, 10.5, 12.6]
    ids = sorted(f["id"] for f in back["features"])
    assert ids == [11, 22]
    pt = next(f for f in back["features"] if f["id"] == 11)
    assert pt["geometry"]["coordinates"] == [10.5, -2.25]
    assert pt["properties"]["iso3"] == "AAA"


def test_geojson_linestring_polygon(spark, tmp_path):
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": 1,
         "geometry": {"type": "LineString",
                      "coordinates": [[0, 0], [1, 1]]}, "properties": {}},
        {"type": "Feature", "id": 2,
         "geometry": {"type": "Polygon",
                      "coordinates": [[[0, 0], [0, 1], [1, 1], [0, 0]]]},
         "properties": {}},
    ]}
    p = _write(tmp_path, "lp.geojson", json.dumps(fc))
    df = mio.read_geojson(spark, p)
    assert df.filter("type = 'LineString'").count() == 2
    assert df.filter("type = 'Polygon'").count() == 4
    assert df.filter("type = 'Polygon'").select("pos").distinct().count() == 1


def test_geojson_line_polygon_roundtrip_order(spark, tmp_path):
    # Vertex order NOT sorted by lon/lat, and a 2-ring polygon: the
    # round trip must preserve order and ring structure exactly via
    # the reader-emitted (pos, seq) indices.
    line = [[5.0, 0.0], [1.0, 2.0], [3.0, -1.0], [0.0, 0.0]]
    outer = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]
    hole = [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]]
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": 1,
         "geometry": {"type": "LineString", "coordinates": line},
         "properties": {"name": "zig"}},
        {"type": "Feature", "id": 2,
         "geometry": {"type": "Polygon", "coordinates": [outer, hole]},
         "properties": {"name": "donut"}},
    ]}
    src = _write(tmp_path, "rt.geojson", json.dumps(fc))
    df = mio.read_geojson(spark, src)
    out = str(tmp_path / "rt_out.geojson")
    mio.records2geojson(df, out)
    with open(out) as f:
        back = json.load(f)
    by_id = {f["id"]: f for f in back["features"]}
    assert by_id[1]["geometry"]["coordinates"] == line
    # reference semantics (meza/convert.py:929: black_list is only
    # {type, lon, lat}): the feature id STAYS in properties too
    assert by_id[1]["properties"] == {"id": 1, "name": "zig"}
    assert by_id[2]["geometry"]["coordinates"] == [outer, hole]


def test_yaml(spark, tmp_path):
    p = _write(tmp_path, "t.yml",
               "- text: Chicago Reader\n  integer: 40\n"
               "- text: Village Voice\n  integer: 36\n")
    df = mio.read_yaml(spark, p)
    got = {r["text"]: r["integer"] for r in df.collect()}
    assert got["Chicago Reader"] == 40


def test_html_table(spark, tmp_path):
    html = ("<html><body><table>"
            "<tr><th>Some Date</th><th>Value</th></tr>"
            "<tr><td>05/04/82</td><td>234</td></tr>"
            "<tr><td>01/01/15</td><td>100</td></tr>"
            "</table></body></html>")
    p = _write(tmp_path, "t.html", html)
    df = mio.read_html(spark, p)
    assert df.columns == ["some_date", "value"]
    assert df.count() == 2


def test_html_vertical_table(spark, tmp_path):
    # vertical tables: th leads each row (ref io.py:1412-1415)
    html = ("<table>"
            "<tr><th>name</th><td>alice</td><td>bob</td></tr>"
            "<tr><th>age</th><td>30</td><td>25</td></tr>"
            "</table>")
    p = _write(tmp_path, "v.htm", html)
    df = mio.read_html(spark, p)
    assert sorted(df.columns) == ["age", "name"]
    got = {r["name"]: r["age"] for r in df.collect()}
    assert got == {"alice": "30", "bob": "25"}


def test_xlsx(spark, tmp_path):
    p = str(tmp_path / "t.xlsx")
    _make_xlsx(p, [["Some Value", "Unicode Test"],
                   [234, "Ādam"], [100, "Iñtërnâtiônàližætiøn"]])
    df = mio.read_xls(spark, p)
    assert df.columns == ["some_value", "unicode_test"]
    got = {r["some_value"]: r["unicode_test"] for r in df.collect()}
    assert got[234] == "Ādam"


def test_dbf(spark, tmp_path):
    # FIXTURES §6: zero-padded codes stay text, big ints stay ints
    p = str(tmp_path / "t.dbf")
    _make_dbf(p, [("STATEFP10", "C", 2, 0), ("ALAND10", "N", 14, 0),
                  ("CD111FP", "N", 2, 0)],
              [("27", 71546663636, "08"), ("55", 12416573076, "10")])
    df = mio.read_dbf(spark, p)
    got = {r["statefp10"]: (r["aland10"], r["cd111fp"]) for r in df.collect()}
    assert got["27"] == (71546663636, "08")   # zero-padded N stays text
    assert got["55"] == (12416573076, "10")   # column-wide text consistency


def test_sqlite(spark, tmp_path):
    p = str(tmp_path / "t.sqlite")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE main_table (some_value INT, name TEXT)")
    con.executemany("INSERT INTO main_table VALUES (?, ?)",
                    [(234, "x"), (100, "y")])
    con.commit()
    con.close()
    df = mio.read_sqlite(spark, p)
    assert df.count() == 2 and "some_value" in df.columns


def test_sqlite_distributed_rowid_ranges(spark, tmp_path):
    p = str(tmp_path / "big.sqlite")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE t (k INTEGER, v TEXT, x REAL)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)",
                    [(i, f"row{i}", i / 2) for i in range(1000)])
    con.commit()
    con.close()
    df = mio.read_sqlite(spark, p, num_partitions=7)
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 1000
    assert dict(df.dtypes) == {"k": "bigint", "v": "string", "x": "double"}
    got = {r["k"]: (r["v"], r["x"]) for r in df.collect()}
    assert got[0] == ("row0", 0.0) and got[999] == ("row999", 499.5)
    # driver-path and distributed-path agree
    drv = {r["k"]: (r["v"], r["x"])
           for r in mio.read_sqlite(spark, p).collect()}
    assert got == drv


def test_sqlite_distributed_empty_table(spark, tmp_path):
    p = str(tmp_path / "empty.sqlite")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE t (k INTEGER, v TEXT)")
    con.commit()
    con.close()
    df = mio.read_sqlite(spark, p, num_partitions=4)
    assert df.count() == 0 and df.columns == ["k", "v"]


def test_read_url(spark, tmp_path):
    # http URL → temp-file fetch → extension dispatch (ref the
    # reference's requests-based remote reads, meza/io.py:278-301)
    import http.server
    import threading

    _write(tmp_path, "remote.csv", "a,b\n1,2\n3,4\n")
    handler = lambda *args: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *args, directory=str(tmp_path))
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/remote.csv"
        df = mio.read(spark, url)
        assert df.columns == ["a", "b"] and df.count() == 2
    finally:
        srv.shutdown()


def test_read_dispatch_and_io_join(spark, tmp_path):
    a = _write(tmp_path, "a.csv", "x,y\n1,2\n")
    b = _write(tmp_path, "b.csv", "y,z\n3,4\n")
    df = mio.read(spark, a)
    assert df.columns == ["x", "y"]
    j = mio.io_join(spark, a, b)
    assert set(j.columns) == {"x", "y", "z"}
    assert j.count() == 2
    rows = sorted(j.collect(), key=lambda r: (r["x"] is None, r["x"]))
    assert rows[0]["z"] is None   # a.csv has no z: missing col → null
    assert rows[1]["x"] is None   # b.csv has no x
    with pytest.raises(ValueError):
        mio.read(spark, "file.unknown")


MDB_FIXTURE = "/root/reference/data/test/test.mdb"


def test_mdb_bad_magic_gate(spark):
    from meza_spark.io.mdb import JetDb

    with pytest.raises(ValueError):
        JetDb(b"\x00" * 4096)


def test_mdb_jet3_roundtrip_and_gates(spark):
    """Jet3 (Access 97) writer→parser roundtrip over every supported
    type; since round 6 the former honest gates decode for real —
    ≥256-byte rows through the jump-table var-offset scheme and memo
    columns through LVAL pages (see the dedicated tests below)."""
    import datetime as dt
    from decimal import Decimal

    from meza_spark.io.mdb import JetDb, build_jet

    recs = [{"k": 1, "name": "ALGERIA", "ok": True, "score": 3.25,
             "amt": Decimal("12.3400"),
             "ts": dt.datetime(2001, 5, 17, 12, 30, 15)},
            {"k": -2, "name": "bräzil", "ok": False, "score": None,
             "amt": Decimal("-7.5"), "ts": None},
            {"k": 3, "name": None, "ok": True, "score": -0.5,
             "amt": None, "ts": dt.datetime(1999, 1, 1)}]
    db = JetDb(build_jet({"nation": recs}, version=3))
    assert db.version == 3 and db.page_size == 2048
    got = list(db.table("nation").rows())
    assert [r["k"] for r in got] == [1, -2, 3]
    assert got[0]["ts"] == dt.datetime(2001, 5, 17, 12, 30, 15)
    assert got[1]["name"] == "bräzil" and got[1]["ts"] is None
    assert got[2]["name"] is None and got[2]["ok"] is True
    assert got[0]["amt"] == Decimal("12.34")
    # wide rows no longer gate: they roundtrip via the jump table
    wide = list(JetDb(build_jet({"t": [{"x": "y" * 300}]},
                                version=3)).table("t").rows())
    assert wide == [{"x": "y" * 300}]


def test_mdb_jet3_jump_table_rows(spark):
    """Jet3 rows ≥ 256 bytes use the jump-table var-offset scheme
    (mdbtools mdb_crack_row3 layout: low-byte offsets + one jump slot
    per 256 bytes of row, dummy-last-slot rule). Exercise offsets
    landing on and around every segment boundary, multi-segment
    single values, nulls inside wide rows, and both Jet versions for
    parity."""
    from meza_spark.io.mdb import JetDb, build_jet

    rows = []
    for i in range(40):
        rows.append({"id": i,
                     "a": "A" * (120 + i * 13),   # crosses 256/512/...
                     "b": "B" * (i * 23 % 300),
                     "c": None if i % 7 == 0 else f"tail-{i}",
                     "n": i * 1000})
    rows.append({"id": 99, "a": "Q" * 1700, "b": "", "c": "x",
                 "n": 1})                         # one value > 6 segments
    for ver in (3, 4):
        got = list(JetDb(build_jet({"w": rows}, version=ver))
                   .table("w").rows())
        assert got == rows, f"jet{ver} wide-row mismatch"


def test_mdb_memo_lval_roundtrip(spark):
    """MEMO columns (LVAL storage) roundtrip in BOTH Jet versions
    across all three layouts the reader knows: inline (flag 0x80),
    single LVAL page row (0x40), and chained rows (0x00); latin-1
    payloads for Jet3, UTF-16 for Jet4."""
    from meza_spark.io.mdb import JetDb, build_jet

    rows = [{"id": 1, "m": "tiny"},
            {"id": 2, "m": "é" * 400},
            {"id": 3, "m": "chain-" + "z" * 4800},
            {"id": 4, "m": None},
            {"id": 5, "m": "edge" * 120}]
    for ver in (3, 4):
        raw = build_jet({"memos": rows}, version=ver, memo_threshold=64)
        got = list(JetDb(raw).table("memos").rows())
        assert got == rows, f"jet{ver} memo mismatch"
    # without a threshold the writer keeps TEXT semantics (legacy)
    raw = build_jet({"memos": [{"id": 1, "m": "plain"}]}, version=4)
    assert next(JetDb(raw).table("memos").rows())["m"] == "plain"


def test_mdb_tdef_sanity_checks(spark):
    """r5 ADVICE: structural TDEF validation fails loudly on
    corrupted column metadata instead of silently mis-parsing —
    unknown type codes and name overruns both raise ValueError."""
    import struct

    from meza_spark.io.mdb import JetDb, build_jet

    raw = bytearray(build_jet(
        {"t": [{"id": 1, "name": "x"}]}, version=3))
    db = JetDb(bytes(raw))
    tdef_pg = db.list_tables()[0][1]
    fmt = db.fmt
    base = tdef_pg * fmt["page_size"]
    # corrupt BOTH columns' type bytes: a majority of unknown codes
    # is the diverged-stride signal (one exotic code alone is
    # tolerated via the raw-bytes value fallback)
    bad_type = bytearray(raw)
    for ci in range(2):
        bad_type[base + fmt["tdef_cols_start"]
                 + ci * fmt["col_entry"]] = 0x77
    with pytest.raises(ValueError, match="type codes are unknown"):
        JetDb(bytes(bad_type)).table("t")
    # a single unknown code still reads (raw-bytes fallback)
    one_bad = bytearray(raw)
    one_bad[base + fmt["tdef_cols_start"]] = 0x77
    rows = list(JetDb(bytes(one_bad)).table("t").rows())
    assert len(rows) == 1 and rows[0]["name"] == "x"
    # corrupt num_cols far past the page extent
    bad_cols = bytearray(raw)
    struct.pack_into("<H", bad_cols, base + fmt["tdef_num_cols"], 9999)
    with pytest.raises(ValueError, match="past the page extent"):
        JetDb(bytes(bad_cols)).table("t")


def test_mdb_cli_fallback_path(spark, tmp_path, monkeypatch):
    """read_mdb prefers the mdbtools CLI when present (byte-parity
    with the reference's subprocess pipe, ref meza/io.py:598-674).
    The container has no mdbtools, so exercise the branch end-to-end
    with stub mdb-tables/mdb-export executables on PATH — proving the
    subprocess plumbing, default-table selection, and CSV re-ingest
    (this is also the documented route for Jet features the native
    parser gates on)."""
    import os
    import stat

    tables = tmp_path / "mdb-tables"
    tables.write_text("#!/bin/sh\necho nation\n")
    export = tmp_path / "mdb-export"
    export.write_text(
        "#!/bin/sh\n"
        'if [ "$2" != "nation" ]; then echo "bad table" >&2; exit 1; fi\n'
        "echo 'k,name'\necho '1,ALGERIA'\necho '2,ARGENTINA'\n")
    for p in (tables, export):
        os.chmod(p, os.stat(p).st_mode | stat.S_IXUSR)
    monkeypatch.setenv("PATH", f"{tmp_path}:{os.environ['PATH']}")
    df = mio.read_mdb(spark, "/nonexistent/legacy.mdb")  # stub ignores it
    got = sorted((r["k"], r["name"]) for r in df.collect())
    assert got == [("1", "ALGERIA"), ("2", "ARGENTINA")] or \
        got == [(1, "ALGERIA"), (2, "ARGENTINA")]


def test_mdb_jet4_writer_roundtrip(spark):
    """records2mdb-style Jet4 writer→native-parser roundtrip,
    multi-table + multi-page (enough rows to spill one data page)."""
    from meza_spark.io.mdb import JetDb, build_jet

    many = [{"id": i, "txt": f"row-{i:05d}" * 20} for i in range(300)]
    db = JetDb(build_jet({"big": many, "small": [{"a": 1}]}))
    assert [t[0] for t in db.list_tables()] == ["big", "small"]
    got = sorted(r["id"] for r in db.table("big").rows())
    assert got == list(range(300))
    assert next(db.table("small").rows()) == {"a": 1}


@pytest.mark.skipif(not os.path.exists(MDB_FIXTURE),
                    reason="reference mdb fixture not present")
def test_mdb_native_first_row_matches_reference_doctest(spark):
    """The reference doctest (ref meza/io.py:620-637) pins the first
    row of test.mdb as mdb-export CSV strings; the native Jet4 parser
    must agree after rendering its TYPED values the same way
    (mdb-export %m/%d/%y date format, nulls as '')."""
    df = mio.read_mdb(spark, MDB_FIXTURE, sanitize=True)
    row = df.orderBy("id_no").first().asDict()

    def render(v):
        if v is None:
            return ""
        if hasattr(v, "strftime"):
            return v.strftime("%m/%d/%y %H:%M:%S")
        return str(v)

    got = {k: render(v) for k, v in row.items()}
    expected = {
        "surname": "Aaron", "forenames": "William",
        "freedom": "07/03/60 00:00:00", "notes": "Order of Court",
        "surname_master_or_father": "", "how_admitted": "Redn.",
        "id_no": "1", "forenames_master_or_father": "",
        "remarks": "", "livery": "",
        "date_of_order_of_court": "06/05/60 00:00:00",
        "source_ref": "MF 324"}
    assert got == expected


@pytest.mark.skipif(not os.path.exists(MDB_FIXTURE),
                    reason="reference mdb fixture not present")
def test_mdb_native_catalog_types_and_counts(spark):
    from meza_spark.io.mdb import JetDb

    db = JetDb(MDB_FIXTURE)
    names = [t[0] for t in db.list_tables()]
    assert names == ["merchant_taylors"]
    df = mio.read_mdb(spark, MDB_FIXTURE, table="merchant_taylors")
    assert df.count() == 20
    dt = dict(df.dtypes)
    assert dt["Id No"] == "bigint"
    assert dt["Freedom"] == "timestamp"
    assert dt["Surname"] == "string"
    # uncompressed-UTF-16 edge value (a genuine ditto-mark surname)
    assert [r["Surname"] for r in
            df.where(F.col("Id No") == 25491).collect()] == ["'"]


def test_records2csv_single_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "n int, s string")
    out = str(tmp_path / "out.csv")
    mio.records2csv(df, out, single_file=True)
    with open(out) as f:
        lines = f.read().strip().split("\n")
    assert lines[0] == "n,s" and len(lines) == 3


def test_records2json_ndjson(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "n int")
    out = str(tmp_path / "o.json")
    mio.records2json(df, out, newline=True, single_file=True)
    assert json.loads(open(out).read())["n"] == 1
    arr = str(tmp_path / "a.json")
    mio.records2json(df, arr, newline=False)
    assert json.load(open(arr)) == [{"n": 1}]


def test_path_utilities():
    from meza_spark.io.readers import ctype2ext, get_ext, to_filepath

    assert get_ext("a/b/data.CSV") == "csv"
    assert get_ext("https://x.test/d/file.jsonl?tok=1#frag") == "jsonl"
    assert get_ext("noext") == ""
    assert ctype2ext("text/csv; charset=utf-8") == "csv"
    assert ctype2ext("application/vnd.openxmlformats-officedocument"
                     ".spreadsheetml.sheet") == "xlsx"
    assert ctype2ext("application/weird") == "weird"
    assert to_filepath("https://x.test/report", dest_dir="/tmp",
                       content_type="text/csv") == "/tmp/report.csv"
    assert to_filepath("https://x.test/a/b.csv") == "/tmp/b.csv"


def test_python_datasource_per_file_parallel(spark, tmp_path):
    import yaml as _yaml

    from meza_spark.io.datasource import register

    d = tmp_path / "yamls"
    d.mkdir()
    for i in range(3):
        (d / f"part{i}.yaml").write_text(_yaml.safe_dump(
            [{"name": f"row{i}_{j}", "qty": i * 10 + j} for j in range(4)]))
    register(spark)
    df = (spark.read.format("meza")
          .option("path", str(d)).option("fmt", "yaml").load())
    assert df.columns == ["name", "qty"]
    assert df.count() == 12
    # one input partition per file
    assert df.rdd.getNumPartitions() == 3
    assert df.filter(df.qty == "21").count() == 1  # strings contract


def test_python_datasource_xlsx(spark, tmp_path):
    from meza_spark.io.datasource import register

    p = tmp_path / "wb.xlsx"
    _make_xlsx(p, [["City", "Pop"], ["Oslo", 700000], ["Bergen", ""]])
    register(spark)
    df = (spark.read.format("meza")
          .option("path", str(p)).option("fmt", "xlsx").load())
    assert df.columns == ["city", "pop"]
    # empty cells come back null, as read_xls returns them
    assert sorted(map(tuple, df.collect())) == [("Bergen", None),
                                               ("Oslo", "700000")]


def test_python_datasource_xls_biff_matches_read_xls(spark, tmp_path):
    from meza_spark.io.datasource import register
    from meza_spark.io.xls import write_biff

    p = str(tmp_path / "wb.xls")
    write_biff([["Name", "Qty", "Note"], ["bolt", 3, None],
                ["nut", 2.5, "loose"]], p)
    register(spark)
    df = (spark.read.format("meza")
          .option("path", p).option("fmt", "xls").load())
    assert df.columns == ["name", "qty", "note"]
    assert sorted(map(tuple, df.collect())) == [
        ("bolt", "3", None), ("nut", "2.5", "loose")]
    # the blank cell is null in both readers
    assert [r.note for r in mio.read_xls(spark, p).orderBy("name")
            .collect()] == [None, "loose"]


def test_read_orc_roundtrip(spark, tmp_path):
    from meza_spark.io.readers import read, read_orc
    from meza_spark.io.writers import write

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    path = str(tmp_path / "t_orc")
    write(df, path, fmt="orc")
    back = read_orc(spark, path)
    assert back.schema == df.schema              # schema survives
    assert sorted(r["k"] for r in back.collect()) == [1, 2]
    assert read(spark, path, ext="orc").count() == 2  # dispatcher


def test_read_xml_autodetect_and_attrs(spark, tmp_path):
    from meza_spark.io.readers import read_xml

    p = tmp_path / "cat.xml"
    p.write_text("""<?xml version="1.0"?>
<catalog>
  <meta>ignored singleton</meta>
  <item sku="A1"><name>widget</name><price>3.50</price></item>
  <item sku="B2"><name> gadget </name><price>4</price><extra/></item>
</catalog>""")
    out = read_xml(spark, str(p))
    rows = {r["sku"]: r for r in out.collect()}
    assert set(rows) == {"A1", "B2"}             # row tag auto = item
    assert rows["A1"]["name"] == "widget"
    assert rows["B2"]["name"] == "gadget"        # text stripped
    assert rows["B2"]["extra"] is None           # empty leaf → null


def test_read_xml_namespaces_and_row_tag(spark, tmp_path):
    from meza_spark.io.readers import read_xml

    p = tmp_path / "ns.xml"
    p.write_text("""<root xmlns:x="urn:z">
  <x:rec><x:id>1</x:id></x:rec>
  <x:rec><x:id>2</x:id></x:rec>
</root>""")
    out = read_xml(spark, str(p), row_tag="rec")
    assert sorted(r["id"] for r in out.collect()) == ["1", "2"]


def test_read_csv_distributed_mixed_encodings(spark, tmp_path):
    """Executor-parallel messy-CSV: three files in three encodings
    (one switching encoding mid-file) parse to one union."""
    from meza_spark.io.readers import read_csv_distributed

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.csv").write_bytes("id,name\n1,café\n".encode("utf-8"))
    (d / "b.csv").write_bytes("id,name\n2,Ñoño\n".encode("latin-1"))
    # clean-utf8 prefix, latin-1 tail: forces mid-stream re-detection
    (d / "c.csv").write_bytes(b"id,name\n3,plain\n4," +
                              "résumé".encode("latin-1") + b"\n")
    out = read_csv_distributed(spark, str(d))
    rows = {r["id"]: r["name"] for r in out.collect()}
    assert rows == {"1": "café", "2": "Ñoño", "3": "plain",
                    "4": "résumé"}


def test_read_csv_distributed_headerless_and_ragged(spark, tmp_path):
    from meza_spark.io.readers import read_csv_distributed

    d = tmp_path / "rag"
    d.mkdir()
    (d / "a.csv").write_text("1,x,extra\n")
    (d / "b.csv").write_text("2\n")
    out = read_csv_distributed(spark, str(d), has_header=False,
                               custom_header=["id", "val"])
    rows = sorted((r["id"], r["val"]) for r in out.collect())
    assert rows == [("1", "x"), ("2", None)]


def test_read_csv_distributed_gzip_and_sniff(spark, tmp_path):
    import gzip

    from meza_spark.io.readers import read_csv_distributed

    d = tmp_path / "gz"
    d.mkdir()
    (d / "a.csv.gz").write_bytes(
        gzip.compress(b"id;name\n1;one\n2;two\n"))
    (d / "b.csv.gz").write_bytes(
        gzip.compress(b"id;name\n3;three\n"))
    out = read_csv_distributed(spark, str(d), delimiter="auto")
    rows = {r["id"]: r["name"] for r in out.collect()}
    assert rows == {"1": "one", "2": "two", "3": "three"}


def test_ndjson_quarantine_split(spark, tmp_path):
    from meza_spark.io.readers import read_ndjson_quarantine

    p = tmp_path / "q.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n'
                 'THIS IS NOT JSON\n'
                 '{"a": 2, "b": "y"}\n'
                 '{"a": broken\n')
    good, bad = read_ndjson_quarantine(spark, str(p))
    assert sorted(r["a"] for r in good.collect()) == [1, 2]
    bad_rows = [r["corrupt_record"] for r in bad.collect()]
    assert len(bad_rows) == 2
    assert "THIS IS NOT JSON" in bad_rows[0] + bad_rows[1]


def test_ndjson_quarantine_clean_file(spark, tmp_path):
    from meza_spark.io.readers import read_ndjson_quarantine

    p = tmp_path / "clean.jsonl"
    p.write_text('{"a": 1}\n{"a": 2}\n')
    good, bad = read_ndjson_quarantine(spark, str(p))
    assert good.count() == 2 and bad.count() == 0


def test_ndjson_quarantine_non_object_lines(spark, tmp_path):
    # valid JSON that is not an object (scalar/array/string) must land
    # in quarantine, not become silent all-null rows
    from meza_spark.io.readers import read_ndjson_quarantine

    p = tmp_path / "scalars.jsonl"
    p.write_text('{"a": 1}\n'
                 '42\n'
                 '[1, 2]\n'
                 '"just a string"\n'
                 '  {"a": 2}\n')
    good, bad = read_ndjson_quarantine(spark, str(p))
    assert sorted(r["a"] for r in good.collect()) == [1, 2]
    bad_rows = {r["corrupt_record"].strip() for r in bad.collect()}
    assert bad_rows == {"42", "[1, 2]", '"just a string"'}


def test_mdb_writer_oversized_row_raises(spark):
    """A row too large for one data page must raise, not silently
    corrupt the page (round-5 review finding: a ~2 KB string column
    built a file that read back 0 rows)."""
    from meza_spark.io.mdb import build_jet

    with pytest.raises(ValueError, match="data-page capacity"):
        build_jet({"t": [{"id": 1, "txt": "x" * 2040}]}, version=4)
    # just under the cap still roundtrips
    from meza_spark.io.mdb import JetDb

    ok = "y" * 900
    db = JetDb(build_jet({"t": [{"id": 1, "txt": ok}]}, version=4))
    assert next(db.table("t").rows()) == {"id": 1, "txt": ok}


def test_mdb_jet3_overflow_lookup_row(spark):
    """row_bytes must use the Jet3 data-page offsets when resolving an
    overflow (lookup) pointer (round-5 review finding: it hardcoded
    the Jet4 offsets). Synthesize the overflow: relocate a written
    row to a fresh page and leave a 0x4000-flagged 4-byte pointer."""
    from meza_spark.io.mdb import JetDb, build_jet

    raw = bytearray(build_jet(
        {"t": [{"a": 7, "s": "overflowed"}]}, version=3))
    ps = 2048
    data_pg = 4                      # hdr, free, cat_tdef, tdef, data
    base = data_pg * ps
    assert raw[base] == 0x01
    orig_off = struct.unpack_from("<H", raw, base + 0x0A)[0]
    row = bytes(raw[base + orig_off:base + ps])
    # new page holding the real row at its tail (rowno 0 ends at ps)
    over_pg = len(raw) // ps
    page = bytearray(ps)
    struct.pack_into("<H", page, 0x08, 1)             # nrows (Jet3 off)
    struct.pack_into("<H", page, 0x0A, ps - len(row))
    page[ps - len(row):] = row
    raw += page
    # original slot becomes a 4-byte (page,row) pointer, flag 0x4000
    ptr_off = ps - 4
    struct.pack_into("<H", raw, base + 0x0A, ptr_off | 0x4000)
    struct.pack_into("<I", raw, base + ptr_off, over_pg << 8 | 0)
    got = list(JetDb(bytes(raw)).table("t").rows())
    assert got == [{"a": 7, "s": "overflowed"}]


def test_read_media_real_directory(spark):
    """read_media over the vendored REAL-media corpus
    (tests/fixtures/external/): one row per file via binaryFile,
    stable path-hash ids, JVM-side magic sniff agreeing with the
    fixture names, and the whole frame decoding end-to-end through
    decode_image — a directory of third-party files to pixel stats
    with no Python until the decode stage."""
    import os

    from meza_spark.io.readers import read_media
    from meza_spark.llm.multimodal import decode_image

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures",
                          "external")
    if not os.path.isdir(fixdir):
        import pytest
        pytest.skip("external fixtures not vendored")
    df = read_media(spark, fixdir, pattern="*.[pgji]*")  # png/gif/jpg/ico
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    n_png = sum(1 for n in rows if n.endswith(".png"))
    n_gif = sum(1 for n in rows if n.endswith(".gif"))
    n_jpg = sum(1 for n in rows if n.endswith(".jpg"))
    n_ico = sum(1 for n in rows if n.endswith(".ico"))
    assert (n_png, n_gif, n_jpg, n_ico) == (11, 4, 3, 3)
    # the JVM-side sniff agrees with every fixture's named format
    for name, r in rows.items():
        want = {"png": "png", "gif": "gif", "jpg": "jpeg",
                "ico": "ico"}[name.rsplit(".", 1)[1]]
        assert r["format"] == want, name
        assert r["n_bytes"] == r["length"] > 0
    # ids are a pure function of the path: stable across reads
    again = {os.path.basename(r["path"]): r["media_id"]
             for r in read_media(spark, fixdir,
                                 pattern="*.[pgji]*").collect()}
    assert again == {n: r["media_id"] for n, r in rows.items()}
    # every real file decodes through the frame-level operator
    out = decode_image(df).collect()
    assert len(out) == len(rows)
    assert all(r["width"] > 0 and r["height"] > 0 for r in out)
    # round-8 vendored additions: the real WebP (VP8X+lossy) and MP3
    # sniff correctly too, and decode_image(unsupported='skip') drops
    # the lossy WebP instead of erroring — the curation posture
    all_rows = {os.path.basename(r["path"]): r
                for r in read_media(spark, fixdir).collect()}
    assert all_rows["webp_vp8x_lossy_python.webp"]["format"] == "webp"
    assert all_rows["mp3_mpeg2_l3_gsutil.mp3"]["format"] == "mp3"
    wdf = read_media(spark, fixdir, pattern="*.webp")
    assert decode_image(wdf, unsupported="skip").count() == 0
