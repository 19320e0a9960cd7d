"""RTF source — text extraction from Rich Text Format documents.

Legacy document dumps (corporate archives, e-mail attachment stores —
both standard LLM sources) carry ``.rtf`` heavily. The format (the
public Microsoft RTF 1.9.1 spec) is a brace-grouped control-word
stream; extracting the text layer needs a small state machine, NOT a
regex: destination groups (font/color tables, ``\\pict`` image data,
``\\*`` extensions) must be skipped with correct brace nesting, and the
``\\ucN`` fallback-skip protocol changes how many characters follow a
``\\uN`` unicode escape.

Handled: nested groups; skipped destinations (incl. unknown ``\\*``
ones — the spec's forward-compatibility rule); ``\\'hh`` cp1252 byte
escapes; ``\\uN?`` signed unicode escapes with ``\\ucN`` fallback
skipping; ``\\par``/``\\line``/``\\row`` → newline, ``\\tab`` → tab,
``\\~`` → NBSP, ``\\emdash`` family; ``\\binN`` raw-byte skip (binary
must not be scanned for braces); literal ``\\\\ \\{ \\}``.

Reference parity: the reference's format dispatch throws for anything
beyond txt (code/KustoPreForgeLib/EtlRun.cs:87-89); this continues the
document-input family. Stdlib-only; same Spark layout as the sibling
readers (blob.read_blobs → Arrow map stage, one task per blob).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import map_blobs, read_blobs

RTF_DDL = "text string, n_groups int, _kpf_source string"

#: destinations whose content is never document text (spec §"Destination
#: Text"); an unknown destination behind \* skips by the same rule
_SKIP_DESTINATIONS = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "footerl", "footerr",
    "themedata", "colorschememapping", "latentstyles", "datastore",
    "generator", "xmlnstbl", "listtable", "listoverridetable",
    "rsidtbl", "fldinst", "bkmkstart", "bkmkend",
}

#: control words that EMIT text
_EMIT = {
    "par": "\n", "line": "\n", "row": "\n", "sect": "\n", "page": "\n",
    "tab": "\t", "cell": "\t", "emdash": "\u2014", "endash": "\u2013",
    "lquote": "\u2018", "rquote": "\u2019", "ldblquote": "\u201c",
    "rdblquote": "\u201d", "bullet": "\u2022", "~": "\u00a0",
    "_": "\u2011", "-": "",
}

_CW_RE = re.compile(rb"\\([a-z]{1,32})(-?\d{1,10})?[ ]?|\\(['{}\\~_\-*])")


def is_rtf(data: bytes) -> bool:
    """Magic probe: the spec requires documents to open ``{\\rtf1``."""
    return bytes(data[:6]).startswith(b"{\\rtf")


def extract_rtf_text(data: bytes) -> tuple[str, int]:
    """(text, n_groups) from one RTF blob — a pure state machine over
    bytes, unit-testable without Spark. Non-RTF input returns ('', 0)
    (the caller's quarantine posture surfaces the blob)."""
    data = bytes(data)
    if not is_rtf(data):
        return "", 0
    out: list[str] = []
    # group-state stack: (skipping, uc) — uc is the \ucN fallback count
    stack: list[tuple[bool, int]] = []
    skipping, uc = False, 1
    n_groups = 0
    i, n = 0, len(data)
    pending_uc_skip = 0  # chars to swallow after a \uN escape
    while i < n:
        b = data[i]
        if b == 0x7B:  # {
            stack.append((skipping, uc))
            n_groups += 1
            i += 1
            continue
        if b == 0x7D:  # }
            if stack:
                skipping, uc = stack.pop()
            # the \uN fallback-skip protocol is GROUP-scoped (RTF 1.9.1):
            # a \uN that ends its group must not swallow text after `}`
            pending_uc_skip = 0
            i += 1
            continue
        if b == 0x5C:  # backslash
            m = _CW_RE.match(data, i)
            if not m:
                i += 1
                continue
            i = m.end()
            if m.group(3) is not None:
                sym = m.group(3).decode("latin-1")
                if sym == "'":
                    # \'hh cp1252 byte escape
                    hexpair = data[i : i + 2]
                    i += 2
                    if pending_uc_skip > 0:
                        pending_uc_skip -= 1
                        continue
                    if not skipping:
                        try:
                            out.append(
                                bytes([int(hexpair, 16)]).decode("cp1252")
                            )
                        except (ValueError, UnicodeDecodeError):
                            pass
                elif sym == "*":
                    # \* marks the NEXT destination as skippable-if-unknown;
                    # conservatively skip the enclosing group
                    skipping = True
                elif sym in ("{", "}", "\\"):
                    if not skipping and pending_uc_skip == 0:
                        out.append(sym)
                    elif pending_uc_skip > 0:
                        pending_uc_skip -= 1
                else:  # ~ _ -
                    if not skipping and pending_uc_skip == 0:
                        out.append(_EMIT.get(sym, ""))
                continue
            word = m.group(1).decode("latin-1")
            param = m.group(2)
            if word == "bin":
                # raw binary follows — must skip blind, never scanned
                skip = int(param or 0)
                i += max(skip, 0)
                continue
            if word == "uc":
                uc = int(param or 1)
                continue
            if word == "u":
                if pending_uc_skip > 0:
                    pending_uc_skip -= 1
                else:
                    if not skipping:
                        cp = int(param or 0)
                        if cp < 0:
                            cp += 65536  # spec: signed 16-bit wraps
                        out.append(chr(cp))
                    pending_uc_skip += uc
                continue
            if word in _SKIP_DESTINATIONS:
                skipping = True
                continue
            if not skipping and word in _EMIT:
                out.append(_EMIT[word])
            continue
        # plain text byte
        i += 1
        if b in (0x0D, 0x0A, 0x00):
            continue  # raw CR/LF in the file are NOT document text
        if pending_uc_skip > 0:
            pending_uc_skip -= 1
            continue
        if not skipping:
            out.append(bytes([b]).decode("cp1252", "replace"))
    text = "".join(out)
    # non-BMP characters arrive as \uN surrogate PAIRS (the spec encodes
    # UTF-16 code units, not codepoints); a utf-16 round-trip with
    # surrogatepass merges pairs into astral chars and keeps lone
    # surrogates from malformed input rather than raising
    if any("\ud800" <= ch <= "\udfff" for ch in text):
        text = text.encode("utf-16-le", "surrogatepass").decode(
            "utf-16-le", "surrogatepass"
        )
    return text, n_groups


def parse_rtf_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) →
    (text, n_groups, _kpf_source) — one ``blob.map_blobs`` stage."""

    def rows(_path, f):
        text, n_groups = extract_rtf_text(f.read())
        yield {"text": text, "n_groups": n_groups}

    return map_blobs(blobs, rows, RTF_DDL)


def read_rtf(spark: SparkSession, path: str) -> DataFrame:
    """Read an RTF directory/glob as one typed row per document."""
    return parse_rtf_blobs(read_blobs(spark, path))


# --------------------------------------------------- fixture-forging writer


def rtf_bytes(text: str) -> bytes:
    """Forge a spec-valid RTF document: header with a font table (the
    parser must skip it), \\uc1 declared, newlines as \\par, non-ASCII
    as \\uN? unicode escapes with a '?' fallback char (which \\uc1 makes
    the parser swallow)."""
    body: list[str] = []
    for ch in text:
        if ch == "\n":
            body.append("\\par\n")
        elif ch in "\\{}":
            body.append("\\" + ch)
        elif ch == "\t":
            body.append("\\tab ")
        elif 0x20 <= ord(ch) < 0x7F:
            body.append(ch)
        else:
            # UTF-16 code UNITS, signed 16-bit (the spec's \uN form);
            # non-BMP chars become surrogate pairs
            for k in range(0, len(ch.encode("utf-16-le")), 2):
                u = int.from_bytes(
                    ch.encode("utf-16-le")[k : k + 2], "little"
                )
                if u > 32767:
                    u -= 65536
                body.append(f"\\u{u}?")
    return (
        "{\\rtf1\\ansi\\deff0\\uc1{\\fonttbl{\\f0\\fnil Arial;}}"
        "{\\*\\generator kpf-forge 1.0;}"
        + "".join(body)
        + "}"
    ).encode("cp1252", "replace")
