"""Subtitle source (SRT / WebVTT) — the timed-text container speech and
dialogue corpora ship in (OpenSubtitles is a standard LLM source; VTT is
the W3C web standard every caption pipeline emits).

Reference parity: the reference's format dispatch throws for anything
beyond txt (code/KustoPreForgeLib/EtlRun.cs:87-89); this continues the
document-input family from the public formats:

- SRT (the de-facto SubRip format): blank-line-separated cues of
  ``index`` / ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` / text lines;
- WebVTT (W3C): a ``WEBVTT`` header, cues with ``HH:MM:SS.mmm``
  timestamps (dot, not comma; hours optional), optional cue ids and
  settings after the timestamp line, NOTE/STYLE blocks skipped.

Both parse to the same cue rows (cue_no, start_s, end_s, text) so the
temporal family (`operators/temporal.py` interval joins, sessionize)
composes directly; text keeps its internal newlines (caption line
breaks are content). Millisecond arithmetic is integer — start/end are
DOUBLE seconds with exact .001 steps, replayable by any engine.

Stdlib-only (``re``), pure functions + the sibling readers' Spark
layout (blob.read_blobs → blob.map_blobs, one task per blob); fixture
forges emit spec-valid files for both dialects.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import map_blobs, read_blobs

SUBTITLE_DDL = (
    "cue_no int, start_s double, end_s double, text string, "
    "dialect string, _kpf_source string"
)

_TS_RE = re.compile(
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})[,.](\d{3})"
)
_CUE_LINE_RE = re.compile(
    r"^\s*(?:(\d{1,2}):)?(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*"
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})[,.](\d{3})"
)


def _ts_to_seconds(h, m, s, ms) -> float:
    total_ms = (
        (int(h) if h else 0) * 3600_000
        + int(m) * 60_000
        + int(s) * 1000
        + int(ms)
    )
    return total_ms / 1000.0


def parse_subtitles(data: bytes) -> list[dict]:
    """Pure function: SRT or WebVTT bytes → cue dicts (cue_no, start_s,
    end_s, text, dialect). The dialect is sniffed (``WEBVTT`` header),
    cue text keeps internal newlines, NOTE/STYLE/REGION blocks and cue
    settings skip, and a BOM is tolerated (players require it
    tolerated)."""
    text = bytes(data).decode("utf-8", "replace")
    if text[:1] == "﻿":
        text = text[1:]
    dialect = "vtt" if text.lstrip().startswith("WEBVTT") else "srt"
    lines = text.split("\n")
    out: list[dict] = []
    i = 0
    n = len(lines)
    cue_no = 0
    while i < n:
        line = lines[i].rstrip("\r")
        m = _CUE_LINE_RE.match(line)
        if not m:
            i += 1
            continue
        start = _ts_to_seconds(*m.groups()[0:4])
        end = _ts_to_seconds(*m.groups()[4:8])
        i += 1
        body: list[str] = []
        while i < n:
            t = lines[i].rstrip("\r")
            if t == "":
                break
            body.append(t)
            i += 1
        out.append(
            {
                "cue_no": cue_no,
                "start_s": start,
                "end_s": end,
                "text": "\n".join(body),
                "dialect": dialect,
            }
        )
        cue_no += 1
    return out


def parse_subtitle_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) → one
    row per cue (SUBTITLE_DDL) — one ``blob.map_blobs`` stage. Compose
    with ``operators/temporal.py`` on (start_s, end_s) or the text gates
    on ``text``."""
    return map_blobs(
        blobs, lambda _path, f: parse_subtitles(f.read()), SUBTITLE_DDL
    )


def read_subtitles(spark: SparkSession, path: str) -> DataFrame:
    """Read an SRT/VTT directory/glob as one typed row per cue."""
    return parse_subtitle_blobs(read_blobs(spark, path))


# --------------------------------------------------- fixture-forging writer


def _fmt_ts(seconds_ms: int, sep: str) -> str:
    h, rem = divmod(seconds_ms, 3600_000)
    m, rem = divmod(rem, 60_000)
    s, ms = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{ms:03d}"


def srt_bytes(cues: list[tuple[int, int, str]]) -> bytes:
    """Forge SRT: cues are (start_ms, end_ms, text)."""
    parts = []
    for i, (a, b, t) in enumerate(cues, start=1):
        parts.append(
            f"{i}\n{_fmt_ts(a, ',')} --> {_fmt_ts(b, ',')}\n{t}\n"
        )
    return "\n".join(parts).encode("utf-8")


def vtt_bytes(cues: list[tuple[int, int, str]]) -> bytes:
    """Forge WebVTT: header, a NOTE block (must skip), dot timestamps,
    a cue setting after the arrow (must be ignored)."""
    parts = ["WEBVTT\n", "NOTE forged fixture\nsecond note line\n"]
    for a, b, t in cues:
        parts.append(
            f"{_fmt_ts(a, '.')} --> {_fmt_ts(b, '.')} align:start\n{t}\n"
        )
    return "\n".join(parts).encode("utf-8")
