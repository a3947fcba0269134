"""Archive payload expansion — one binary column of zip / tar /
tar.gz / gzip archives → one ROW PER MEMBER (name, bytes, size), the
distributed primitive between "a crawl handed me archives" and the
per-document tiers (document_text, decode_image, eml_text, …).

Format is sniffed from magic bytes, never extensions: ``PK\\x03\\x04``
→ zip (the budgeted walk shared with the office tier), ``ustar`` at
offset 257 → tar, ``\\x1f\\x8b`` → gunzip (budget enforced DURING
inflation) then tar-or-single-member re-sniff — a bare ``.gz`` file
yields one member named from its FNAME header field when present.

Budgets gate DECLARED sizes before any allocation (zip central
directory, tar size fields) and actual output during streaming reads;
encrypted zip members, absolute / ``..``-traversal member paths, and
member-count bombs are skippable ``ValueError``\\ s, never crashes.

Spark layer: ``expand_archive`` is row-local (``util.extract_rows``)
— zero shuffle; each archive explodes WITHIN its executor, so 100 TB
of archives scales with executor count, not driver memory. Hostile
payloads become ``error`` rows.
"""

from __future__ import annotations

import gzip
import io
import tarfile
import zlib

MAX_ARCHIVE_BYTES = 256 * 1024 * 1024    # compressed input
MAX_TOTAL_OUT = 512 * 1024 * 1024        # sum of member bytes out
MAX_MEMBER_BYTES = 256 * 1024 * 1024     # one member
MAX_ARCHIVE_MEMBERS = 10_000


def _safe_name(name: str) -> str:
    """Reject absolute and parent-traversal member paths (archives
    come from crawls; names feed downstream joins and sinks)."""
    if name.startswith(("/", "\\")) or ".." in name.split("/"):
        raise ValueError(f"unsafe member path: {name!r}")
    return name


def _expand_zip(b: bytes) -> list:
    from meza_spark.llm.office import _open_zip, _read_member

    z = _open_zip(b)                      # budgets: count + declared sizes
    out = []
    for inf in z.infolist():
        if inf.is_dir():
            continue
        name = _safe_name(inf.filename)
        out.append((name, _read_member(z, inf.filename)))
    return out


def _expand_tar(b: bytes) -> list:
    try:
        tf = tarfile.open(fileobj=io.BytesIO(b), mode="r:")
    except tarfile.TarError as e:
        raise ValueError(f"bad tar archive: {e}") from None
    out = []
    total = 0
    with tf:
        for m in tf:
            if len(out) >= MAX_ARCHIVE_MEMBERS:
                raise ValueError("tar member count exceeds the budget")
            if not m.isfile():
                continue
            name = _safe_name(m.name)
            if m.size < 0 or m.size > MAX_MEMBER_BYTES:
                raise ValueError("tar member exceeds the byte budget")
            total += m.size
            if total > MAX_TOTAL_OUT:
                raise ValueError("tar exceeds the decompressed budget")
            f = tf.extractfile(m)
            data = f.read(m.size) if f is not None else b""
            out.append((name, data))
    return out


def _gunzip_named(b: bytes) -> tuple:
    """One gzip stream → (FNAME header field or None, bytes), with
    the output budget enforced during inflation."""
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(b)) as f:
            out = f.read(MAX_TOTAL_OUT + 1)
    except (OSError, EOFError, zlib.error) as e:
        raise ValueError(f"bad gzip stream: {e}") from None
    if len(out) > MAX_TOTAL_OUT:
        raise ValueError("gzip stream exceeds the decompressed budget")
    # FNAME lives in the member header: flags bit 3 at offset 3
    fname = None
    if len(b) > 10 and b[3] & 0x08:
        end = b.find(b"\x00", 10)
        if end > 10:
            try:
                fname = b[10:end].decode("latin-1")
            except UnicodeDecodeError:
                fname = None
    return fname, out


def expand_archive_bytes(b: bytes) -> dict:
    """One archive payload → {kind, members: [(name, bytes), …]}.
    Raises ValueError for non-archive payloads (honest gate)."""
    if not b:
        raise ValueError("empty payload")
    if len(b) > MAX_ARCHIVE_BYTES:
        raise ValueError("archive exceeds the byte budget")
    if b[:4] == b"PK\x03\x04":
        return {"kind": "zip", "members": _expand_zip(b)}
    if len(b) > 262 and b[257:262] == b"ustar":
        return {"kind": "tar", "members": _expand_tar(b)}
    if b[:2] == b"\x1f\x8b":
        fname, raw = _gunzip_named(b)
        if len(raw) > 262 and raw[257:262] == b"ustar":
            return {"kind": "tgz", "members": _expand_tar(raw)}
        name = _safe_name(fname) if fname else "member"
        return {"kind": "gz", "members": [(name, raw)]}
    raise ValueError(
        "unrecognized payload — not a zip/tar/tar.gz/gzip archive")


# ----------------------------------------------------------- encoders

def encode_zip(members, date_time=(1980, 1, 1, 0, 0, 0)) -> bytes:
    """Deterministic zip fixture: fixed timestamps, stored order."""
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members:
            zi = zipfile.ZipInfo(name, date_time=date_time)
            zi.compress_type = zipfile.ZIP_DEFLATED
            zi.external_attr = 0o644 << 16
            z.writestr(zi, data)
    return buf.getvalue()


def encode_tar(members, gz: bool = False) -> bytes:
    """Deterministic tar fixture: zeroed mtime/uid/gid, fixed order;
    gz=True wraps in a reproducible gzip layer (mtime=0)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            ti.mtime = 0
            ti.uname = ti.gname = ""
            tf.addfile(ti, io.BytesIO(data))
    raw = buf.getvalue()
    if not gz:
        return raw
    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as f:
        f.write(raw)
    return out.getvalue()


def encode_gz(name: str, data: bytes) -> bytes:
    """Deterministic single-member gzip with an FNAME header."""
    out = io.BytesIO()
    with gzip.GzipFile(filename=name, fileobj=out, mode="wb", mtime=0) as f:
        f.write(data)
    return out.getvalue()


# ----------------------------------------------------------- spark layer

def expand_archive(df, payload_col: str = "payload",
                   id_col: str = "media_id"):
    """One row per member of each archive payload: kind, index, name,
    size and bytes; rows and ``error`` rows as in
    :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        r = expand_archive_bytes(b)
        return [(r["kind"], i, name, len(data), data)
                for i, (name, data) in enumerate(r["members"])]

    return extract_rows(df, fn, "kind string, member_idx int, "
                        "member_name string, member_size bigint, "
                        "member_bytes binary", payload_col, id_col)
