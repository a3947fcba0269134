"""SubRip (.srt) and WebVTT (.vtt) subtitle extraction — transcript
tracks are a staple of video/ASR training corpora, and their cue
TIMINGS matter as much as their text (audio-transcript alignment,
per-segment sampling). Pure-stdlib line scanner, same charter as the
other content tiers.

``parse_srt`` / ``parse_vtt`` → list of cues ``(idx, start_ms,
end_ms, text)``; ``extract_subtitles_bytes`` sniffs which (``WEBVTT``
magic, else the SRT counter+timestamp shape) and flattens to plain
text for the document dispatch. Inline markup (``<i>``, ``<b>``,
``<c.class>``, ``<v Speaker>`` voice spans) is stripped from cue
text; VTT NOTE/STYLE/REGION blocks and cue-settings after the
timestamp line are dropped; both comma (SRT) and dot (VTT)
millisecond separators parse, hours optional in VTT.

Spark layer: ``subtitle_cues`` explodes payloads into one row per
cue (row-local ``util.extract_rows``, zero shuffle).
"""

from __future__ import annotations

import re

MAX_SUB_BYTES = 64 * 1024 * 1024
MAX_CUES = 200_000

# 00:01:02,345 / 00:01:02.345 / 01:02.345 (VTT short form)
_TS_RE = re.compile(
    r"(?:(\d{1,4}):)?(\d{1,2}):(\d{2})[.,](\d{3})")
_CUE_LINE_RE = re.compile(
    r"^\s*((?:\d{1,4}:)?\d{1,2}:\d{2}[.,]\d{3})\s*-->\s*"
    r"((?:\d{1,4}:)?\d{1,2}:\d{2}[.,]\d{3})(?:\s+(?!-->)\S.*)?$")
_TAG_RE = re.compile(r"<[^>\n]*>")       # <i>, </i>, <c.cls>, <00:00:01.000>
_SRT_SHAPE_RE = re.compile(
    rb"^(?:\xef\xbb\xbf)?\s*\d{1,5}\s*\r?\n"
    rb"\s*\d{1,2}:\d{2}:\d{2},\d{3}\s*-->")


def _to_ms(ts: str) -> int:
    m = _TS_RE.fullmatch(ts.strip())
    if not m:
        raise ValueError(f"bad subtitle timestamp: {ts!r}")
    h = int(m.group(1) or 0)
    return ((h * 60 + int(m.group(2))) * 60 + int(m.group(3))) * 1000 \
        + int(m.group(4))


def _clean(lines: list) -> str:
    return "\n".join(_TAG_RE.sub("", ln).strip() for ln in lines).strip()


def _parse_blocks(text: str, vtt: bool) -> list:
    """Shared cue scanner: blocks separated by blank lines; a block
    is [counter]\\n timestamp-line \\n text-lines."""
    cues = []
    idx_auto = 0
    for block in re.split(r"\n{2,}", text.replace("\r\n", "\n").strip()):
        lines = [ln for ln in block.split("\n")]
        if not lines or not lines[0].strip():
            continue
        head = lines[0].strip()
        if vtt and head.split(" ")[0] in ("NOTE", "STYLE", "REGION",
                                          "WEBVTT"):
            continue
        ts_at = None
        for j in range(min(2, len(lines))):
            if _CUE_LINE_RE.match(lines[j]):
                ts_at = j
                break
        if ts_at is None:
            if vtt:
                continue                  # stray block: tolerated in VTT
            raise ValueError(f"malformed SRT block: {head[:40]!r}")
        m = _CUE_LINE_RE.match(lines[ts_at])
        if len(cues) >= MAX_CUES:
            raise ValueError("cue count exceeds the budget")
        idx_auto += 1
        idx = idx_auto
        if ts_at == 1:                    # explicit counter/identifier
            counter = lines[0].strip()
            if counter.isdigit():
                idx = int(counter)
        start, end = _to_ms(m.group(1)), _to_ms(m.group(2))
        if end < start:
            raise ValueError(f"cue ends before it starts: {head[:40]!r}")
        cues.append((idx, start, end, _clean(lines[ts_at + 1:])))
    return cues


def parse_srt(text: str) -> list:
    """SubRip: numbered blocks, comma millisecond separator."""
    return _parse_blocks(text, vtt=False)


def parse_vtt(text: str) -> list:
    """WebVTT: WEBVTT magic line, dot separator, optional cue ids,
    NOTE/STYLE/REGION blocks, cue settings, inline voice/class tags."""
    body = text.lstrip("﻿")
    if not body.startswith("WEBVTT"):
        raise ValueError("missing WEBVTT magic")
    return _parse_blocks(body, vtt=True)


def extract_subtitles_bytes(b: bytes) -> dict:
    """Sniff SRT vs VTT and flatten: {format, text, n_parts(cues),
    duration_ms}. Raises ValueError for non-subtitle payloads."""
    if not b:
        raise ValueError("empty payload")
    if len(b) > MAX_SUB_BYTES:
        raise ValueError("subtitle payload exceeds the byte budget")
    text = b.decode("utf-8", "replace")
    if text.lstrip("﻿").startswith("WEBVTT"):
        cues, fmt = parse_vtt(text), "vtt"
    elif _SRT_SHAPE_RE.match(b):
        cues, fmt = parse_srt(text), "srt"
    else:
        raise ValueError("not a subtitle payload (no WEBVTT magic or "
                         "SRT counter+timestamp shape)")
    joined = "\n".join(c[3] for c in cues if c[3])
    return {"format": fmt, "text": joined, "n_parts": len(cues),
            "duration_ms": max((c[2] for c in cues), default=0)}


# ----------------------------------------------------------- encoders

def encode_srt(cues) -> bytes:
    """cues: [(start_ms, end_ms, text), …] → deterministic SRT."""
    out = []
    for i, (s, e, t) in enumerate(cues, 1):
        out.append("%d\n%s --> %s\n%s\n" % (i, _fmt_ms(s, ","),
                                            _fmt_ms(e, ","), t))
    return "\n".join(out).encode("utf-8")


def encode_vtt(cues, note: str = None) -> bytes:
    """cues: [(start_ms, end_ms, text), …] → deterministic WebVTT."""
    out = ["WEBVTT\n"]
    if note:
        out.append("NOTE %s\n" % note)
    for s, e, t in cues:
        out.append("%s --> %s\n%s\n" % (_fmt_ms(s, "."),
                                        _fmt_ms(e, "."), t))
    return "\n".join(out).encode("utf-8")


def _fmt_ms(ms: int, sep: str) -> str:
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, frac = divmod(rem, 1000)
    return "%02d:%02d:%02d%s%03d" % (h, m, s, sep, frac)


# ----------------------------------------------------------- spark layer

def subtitle_cues(df, payload_col: str = "payload",
                  id_col: str = "media_id"):
    """One row per cue of each SRT or WebVTT payload: format, cue
    index, start and end in ms, and text; rows and ``error`` rows as
    in :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        text = b.decode("utf-8", "replace")
        if text.lstrip("\ufeff").startswith("WEBVTT"):
            return [("vtt", *cue) for cue in parse_vtt(text)]
        if _SRT_SHAPE_RE.match(b):
            return [("srt", *cue) for cue in parse_srt(text)]
        raise ValueError("not a subtitle payload")

    return extract_rows(df, fn, "format string, cue_idx int, "
                        "start_ms bigint, end_ms bigint, cue_text string",
                        payload_col, id_col)
