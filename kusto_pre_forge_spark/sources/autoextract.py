"""Format-sniffing text extraction — the front door for a MIXED dump.

A real crawl/document dump is never one format: PDFs next to DOCX next
to notebooks next to plain text. This module sniffs each blob by MAGIC
BYTES (extension is a hint, content decides) and routes it to the right
pure-bytes extractor from the sibling sources — so a user can point the
engine at a directory and get one unified (path, kind, text) frame.

Kinds and routing:

- ``pdf``   — ``%PDF`` magic → :func:`sources.pdf.extract_pdf_pages`
  (pages join with form feeds, the classic multi-page text convention)
- ``docx``  — ZIP magic + a ``word/document.xml`` part →
  :func:`sources.docx.extract_docx_text`
- ``ipynb`` — JSON object with a ``cells`` list →
  :func:`sources.ipynb.to_script` (code verbatim, markdown commented)
- ``warc``  — ``WARC/`` magic (plain or gzip) → response payloads,
  joined with form feeds; HTML payloads stay raw here (chain
  ``textprep.html_extract`` Spark-side on the tagged rows)
- ``html``  — a leading ``<`` with an html/doctype tag → text passes
  through RAW with the tag (extraction is the Spark-side codegen chain)
- ``mediawiki`` — a ``<mediawiki`` XML export root (Wikipedia dumps;
  bz2/gzip peel first) → page wikitexts joined with form feeds, RAW —
  chain ``textprep.wikitext_extract`` Spark-side; per-page rows via
  ``sources.mediawiki.read_mediawiki``
- ``text``  — decodes as UTF-8 → passes through
- ``binary``— everything else → NULL text (images/media route to the
  ``multimodal`` family instead)

The dispatcher is a pure function over bytes (unit-testable without
Spark) inside one Arrow ``mapInPandas`` stage; nothing shuffles.
"""

from __future__ import annotations

import io
import tarfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import (
    DECODE_ERRORS,
    map_blobs,
    open_decompressed,
    read_blobs,
)

AUTOEXTRACT_DDL = "kind string, text string, _kpf_source string"

PAGE_SEP = "\x0c"  # form feed between PDF pages / WARC records

#: Zip-bomb valves for archive-member expansion — the ``_hot_buckets``
#: fail-open philosophy: a blob past the cap yields the members UP TO
#: the cap plus one loud ``archive_truncated`` sentinel row, never an
#: error and never a silent total drop.
MAX_ARCHIVE_MEMBERS = 10_000
MAX_ARCHIVE_BYTES = 1 << 30  # 1 GiB decompressed per archive

def py7zr_available() -> bool:
    """True when the ``py7zr`` wheel is importable — the zstd/pyav
    import-try hatch convention: Stack Exchange ships its dumps as
    ``.7z`` and Python has no stdlib codec, so archives expand where
    the wheel is present and tag-only route (never silently 'binary',
    never a crash) where it is not."""
    try:
        import py7zr  # noqa: F401

        return True
    except ImportError:
        return False


def zstd_available() -> bool:
    """True when the ``zstandard`` wheel is importable — the import-try
    hatch convention (pyav/tesseract): Dolma/RedPajama-class corpora
    ship ``.jsonl.zst``, Python 3.11 has no stdlib codec, so the front
    door decodes where the wheel is present and tag-only routes
    (never silently 'binary') where it is not."""
    try:
        import zstandard  # noqa: F401

        return True
    except ImportError:
        return False


def _zstd_stream_reader(fileobj):
    """A zstd decompressing stream over ``fileobj`` that reads ACROSS
    frame boundaries (real .zst corpora are multi-frame: seekable-zstd,
    per-record frames) — older ``zstandard`` wheels lack the kwarg, so
    fall back to single-frame semantics rather than refuse."""
    import zstandard

    dctx = zstandard.ZstdDecompressor()
    try:
        return dctx.stream_reader(fileobj, read_across_frames=True)
    except TypeError:  # pragma: no cover — pre-kwarg wheels
        return dctx.stream_reader(fileobj)


class _ZstdTarPipe:
    """Minimal read-only file object for ``tarfile``'s sequential mode
    that normalizes codec errors to ValueError — a corrupt frame in the
    middle of a 100 GB bundle must hit the caller's quarantine catch,
    not escape as a third-party exception type."""

    def __init__(self, fileobj):
        import zstandard

        self._zstd_error = zstandard.ZstdError
        self._r = _zstd_stream_reader(fileobj)

    def read(self, n: int = -1) -> bytes:
        try:
            return self._r.read(n)
        except self._zstd_error as e:
            raise ValueError(f"zstd decode failed: {e}") from e

    def close(self) -> None:
        self._r.close()


def _zstd_decompress(data: bytes) -> bytes:
    """Whole-blob zstd decode behind :func:`zstd_available`, streamed
    against the decompressed-size valve (frames in the wild omit the
    content-size header, so ``max_output_size`` alone can't be trusted);
    reads across frame boundaries (multi-frame files decode WHOLE, not
    first-frame-only); codec errors normalize to ValueError for the
    quarantine catch."""
    import zstandard

    chunks: list[bytes] = []
    total = 0
    try:
        with _zstd_stream_reader(io.BytesIO(data)) as r:
            while True:
                chunk = r.read(1 << 20)
                if not chunk:
                    break
                total += len(chunk)
                if total > MAX_ARCHIVE_BYTES:
                    raise ValueError(
                        "zstd blob exceeds the decompressed-size valve"
                    )
                chunks.append(chunk)
    except zstandard.ZstdError as e:
        raise ValueError(f"zstd decode failed: {e}") from e
    return b"".join(chunks)


def _peelable_kinds() -> tuple[str, ...]:
    if zstd_available():
        return ("gzip", "bz2", "xz", "zstd")
    return ("gzip", "bz2", "xz")


def _peel(kind: str, data: bytes) -> bytes:
    """Whole-blob decompression of a blob sniffed as ``kind`` (one of
    :func:`_peelable_kinds`): zstd behind its valve, the rest through
    the shared ``blob.open_decompressed`` opener."""
    if kind == "zstd":
        return _zstd_decompress(data)
    return open_decompressed(io.BytesIO(data)).read()


def sniff_format(content: bytes) -> str:
    """Magic-byte format sniff (content decides; extensions lie in a
    crawl). Returns one of pdf/docx/zip/tar/ipynb/warc/gzip/bz2/xz/
    mediawiki/html/text/binary."""
    head = bytes(content[:512])
    if head.startswith(b"%PDF"):
        return "pdf"
    if head.startswith(b"PK\x03\x04"):
        return "zip"  # refined to docx by the part listing
    if head.startswith(b"WARC/"):
        return "warc"
    if head.startswith(b"\x1f\x8b"):
        return "gzip"
    if head.startswith(b"BZh") and len(head) > 3 and head[3:4].isdigit():
        return "bz2"  # what Wikimedia dumps actually ship as
    if head.startswith(b"\xfd7zXZ\x00"):
        return "xz"
    # columnar/container formats a mixed dump can carry: tag them so the
    # caller routes to the real reader (spark.read.parquet/orc,
    # sources/avro.py) — 'binary' would hide that they are readable
    if head.startswith(b"PAR1"):
        return "parquet"
    if head.startswith(b"ORC"):
        return "orc"
    if head.startswith(b"Obj\x01"):
        return "avro"
    if head.startswith(b"7z\xbc\xaf\x27\x1c"):
        return "7z"
    if head.startswith(b"\x28\xb5\x2f\xfd"):
        return "zstd"  # no stdlib codec on 3.11 — tag, never 'binary'
    if head.startswith(b"RIFF") and head[8:12] == b"WEBP":
        return "webp"  # routes to operators/webp.py (VP8L decodes)
    if len(head) >= 12 and head[4:8] == b"ftyp":
        # AVIF/HEIC (ISO-BMFF still images, brands decide) — tag so the
        # image family sees them; plain MP4/MOV stays 'binary' (media,
        # not a document)
        from kusto_pre_forge_spark.operators.mediacodec import _heif_kind

        hk = _heif_kind(bytes(content[:4096]))
        if hk is not None:
            return hk
    # POSIX ustar magic at offset 257 (covers GNU tar's "ustar  \0" too)
    if bytes(content[257:262]) == b"ustar":
        return "tar"
    # WebVTT: magic header (BOM tolerated)
    if head.lstrip(b"\xef\xbb\xbf").startswith(b"WEBVTT"):
        return "vtt"
    # SRT: conservative two-signal sniff — a bare integer first line AND
    # a cue-timestamp arrow in the head (plain text starting with a
    # number must NOT route here)
    first = head.split(b"\n", 1)[0].strip()
    if first.isdigit() and b"-->" in head:
        return "srt"
    # RFC 4155 mbox: requires BOTH the From_ line at byte 0 AND a real
    # RFC 5322 header soon after — a plain text starting "From Berlin
    # with love" must NOT route here (conservative two-signal sniff)
    if head.startswith(b"From ") and any(
        marker in bytes(content[:2048])
        for marker in (b"\nFrom: ", b"\nReceived: ", b"\nReturn-Path: ")
    ):
        return "mbox"
    if head.startswith(b"{\\rtf"):
        return "rtf"
    # MediaWiki XML export dump (Wikipedia corpus) — pages route whole
    from kusto_pre_forge_spark.sources.mediawiki import is_mediawiki

    if is_mediawiki(head):
        return "mediawiki"
    stripped = head.lstrip()
    # Probe the WHOLE blob for "cells", not a fixed head: a notebook's
    # metadata block (kernelspec + serialized widget state) routinely
    # exceeds 4 KiB before the cells key appears. A false positive
    # (plain JSON that mentions "cells") is harmless — extract_auto
    # verifies via notebook_cells() and falls back to text.
    if stripped[:1] == b"{" and b'"cells"' in bytes(content):
        return "ipynb"
    low = stripped[:64].lower()
    if low.startswith(b"<!doctype html") or low.startswith(b"<html"):
        return "html"
    try:
        bytes(content).decode("utf-8")
        return "text"
    except UnicodeDecodeError:
        return "binary"


def extract_auto(content: bytes) -> tuple[str, str | None]:
    """(kind, text) for one blob — the pure dispatcher. Container
    formats extract here; html/text pass through for the Spark-side
    chains; undecodable bytes yield ('binary', None)."""
    from kusto_pre_forge_spark.sources.docx import extract_docx_text
    from kusto_pre_forge_spark.sources.ipynb import notebook_cells, to_script
    from kusto_pre_forge_spark.sources.pdf import extract_pdf_pages
    from kusto_pre_forge_spark.sources.warc import (
        iter_warc_records_from,
        parse_http_response,
    )

    kind = sniff_format(content)
    data = bytes(content)
    peelable = _peelable_kinds()
    if kind in peelable:
        try:
            data = _peel(kind, data)
        except DECODE_ERRORS:
            return "binary", None
        inner = sniff_format(data)
        kind = inner if inner not in peelable else "binary"
    if kind == "tar":
        return "tar", None  # bundles expand via auto_rows
    if kind in ("parquet", "orc", "avro", "7z", "zstd", "webp", "avif",
                "heic"):
        # tag-only: route to spark.read.parquet/orc / sources.avro /
        # the multimodal image family (webp → mediacodec.decode_image);
        # 7z has no stdlib codec on 3.11 and zstd reaches here only
        # when the `zstandard` wheel is absent (the import-try hatch
        # above peels it otherwise) — never silently 'binary'
        return kind, None
    if kind == "rtf":
        from kusto_pre_forge_spark.sources.rtf import extract_rtf_text

        return "rtf", extract_rtf_text(data)[0]
    if kind == "mediawiki":
        from kusto_pre_forge_spark.sources.mediawiki import (
            parse_mediawiki_pages,
        )

        return "mediawiki", PAGE_SEP.join(
            pg["text"] or "" for pg in parse_mediawiki_pages(data)
        )
    if kind == "mbox":
        from kusto_pre_forge_spark.sources.mail import parse_mbox_messages

        return "mbox", PAGE_SEP.join(
            m["body"] for m in parse_mbox_messages(data)
        )
    if kind in ("srt", "vtt"):
        from kusto_pre_forge_spark.sources.subtitles import parse_subtitles

        return kind, PAGE_SEP.join(
            c["text"] for c in parse_subtitles(data)
        )
    if kind == "pdf":
        return "pdf", PAGE_SEP.join(extract_pdf_pages(data))
    if kind == "zip":
        from kusto_pre_forge_spark.sources.epub import (
            extract_epub_chapters,
            is_epub,
        )

        if is_epub(data):
            return "epub", PAGE_SEP.join(
                html for _, html in extract_epub_chapters(data)
            )
        try:
            zf = zipfile.ZipFile(io.BytesIO(data))
            names = set(zf.namelist())
        except zipfile.BadZipFile:
            return "binary", None
        if "word/document.xml" in names:
            return "docx", extract_docx_text(data)[0]
        return "zip", None  # generic archives route to read_zip_lines
    if kind == "ipynb":
        cells = notebook_cells(data)
        if cells:
            return "ipynb", to_script(cells)
        kind = "text"  # JSON that wasn't a notebook — fall through
    if kind == "warc":
        # response records (WARC captures) AND conversion records (WET —
        # Common Crawl's extracted-text sidecar, whose blocks are bare
        # text/plain with no HTTP message) both carry corpus text; a WET
        # blob must not extract empty
        payloads = []
        for headers, block in iter_warc_records_from(io.BytesIO(data)):
            wtype = headers.get("warc-type", "").lower()
            if wtype not in ("response", "conversion"):
                continue
            status, _, body = parse_http_response(block)
            payloads.append(
                (body if status is not None else block).decode(
                    "utf-8", "replace"
                )
            )
        return "warc", PAGE_SEP.join(payloads)
    if kind in ("html", "text"):
        return kind, data.decode("utf-8", "replace")
    return "binary", None


def iter_archive_members(f, kind: str):
    """Yield ``(member_name, member_bytes)`` for a tar/zip/7z bundle open
    as seekable binary file ``f``, then ``(None, None)`` once IF the
    valves clipped it (zip-bomb posture: fail open with a loud sentinel,
    never error, never drop silently). Tar reads sequentially through
    ``tarfile``'s pipe mode (``r|*``: plain, gzip, bz2 or xz; zstd via
    :class:`_ZstdTarPipe` where the wheel is present), holding ONE member
    in memory at a time, so a 100 GB crawl bundle never materializes;
    zip reads member at a time through its central directory (it lives
    at the tail — forward streaming is not a ZIP-format possibility).
    Directories and zero-name members are skipped; declared sizes are
    checked BEFORE decompressing each member so a bomb can't expand
    past the byte valve. A codec error mid-bundle propagates."""
    count, total = 0, 0
    if kind == "tar":
        zst = f.read(4) == b"\x28\xb5\x2f\xfd"
        f.seek(0)
        pipe = _ZstdTarPipe(f) if zst and zstd_available() else f
        try:
            tf = tarfile.open(fileobj=pipe, mode="r|*")
        except (tarfile.TarError, OSError, ValueError):
            return
        with tf:
            for m in tf:
                if not m.isfile():
                    continue
                if (
                    count >= MAX_ARCHIVE_MEMBERS
                    or total + m.size > MAX_ARCHIVE_BYTES
                ):
                    yield None, None
                    return
                member = tf.extractfile(m)
                if member is None:
                    continue
                count, total = count + 1, total + m.size
                yield m.name, member.read()
    elif kind == "zip":
        try:
            zf = zipfile.ZipFile(f)
        except zipfile.BadZipFile:
            return
        with zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                if (
                    count >= MAX_ARCHIVE_MEMBERS
                    or total + info.file_size > MAX_ARCHIVE_BYTES
                ):
                    yield None, None
                    return
                count, total = count + 1, total + info.file_size
                yield info.filename, zf.read(info)
    elif kind == "7z":
        # py7zr hatch (the zstd convention): declared uncompressed
        # sizes are checked against the valves BEFORE extraction, the
        # same bomb posture as tar/zip
        import py7zr

        try:
            sz = py7zr.SevenZipFile(f)
        except Exception:
            return
        with sz:
            names = []
            clipped = False
            for fi in sz.list():
                if getattr(fi, "is_directory", False):
                    continue
                size = getattr(fi, "uncompressed", 0) or 0
                if (
                    count >= MAX_ARCHIVE_MEMBERS
                    or total + size > MAX_ARCHIVE_BYTES
                ):
                    clipped = True
                    break
                count, total = count + 1, total + size
                names.append(fi.filename)
            sz.reset()
            extracted = sz.read(names) if names else {}
            for name in names:
                bio = extracted.get(name)
                if bio is None:
                    continue
                yield name, bio.read()
            if clipped:
                yield None, None


def _member_rows(f, kind):
    """(member, kind, text) per member of a tar/zip/7z bundle, each
    member's bytes routed back through :func:`extract_auto`; [] when
    the bundle cannot be read to its end. A member that fails to decode
    quarantines as its own (member, 'binary', None) row; the other
    members keep theirs."""
    rows = []
    try:
        for name, blob in iter_archive_members(f, kind):
            if name is None:
                rows.append((None, "archive_truncated", None))
                break
            try:
                rows.append((name,) + extract_auto(blob))
            except (zipfile.BadZipFile,) + DECODE_ERRORS:
                rows.append((name, "binary", None))
    except (tarfile.TarError, zipfile.BadZipFile) + DECODE_ERRORS:
        return []
    return rows


def auto_rows(f) -> list[tuple[str | None, str, str | None]]:
    """(member, kind, text) rows for one blob open as seekable binary
    file ``f`` — the bundle-aware front door. Non-archive blobs yield one
    row with member=None; tar / generic-zip bundles (incl. .tar.gz/.tgz/
    .tar.xz, streamed member at a time without peeling the whole blob)
    yield one row PER MEMBER, each member's bytes routed back through
    :func:`extract_auto` (a PDF inside a zip extracts as a PDF). One
    nesting level: an archive INSIDE an archive surfaces as its own
    ('tar'/'zip', None) row rather than recursing — crawl dumps nest
    compression around bundles, not bundles in bundles, and a fixed
    depth is the zip-bomb-safe posture. A valve-clipped archive ends
    with one ('archive_truncated', None) sentinel row; an empty or
    unreadable one surfaces as one (kind, NULL) row — the quarantine
    posture, never a silent drop."""
    head = f.read(4096)
    f.seek(0)
    # archive and compression magic all sit in the head, so this sniff
    # agrees with a whole-blob sniff on every kind branched on below
    kind = sniff_format(head)
    peelable = _peelable_kinds()
    if kind == "tar" or kind in peelable:
        rows = _member_rows(f, "tar")
        if rows or kind == "tar":
            return rows or [(None, "tar", None)]
        # compressed, but not a readable tar: peel whole and dispatch
        f.seek(0)
        try:
            data = _peel(kind, f.read())
        except DECODE_ERRORS:
            return [(None, "binary", None)]
        if sniff_format(data) in peelable:
            return [(None, "binary", None)]
        return auto_rows(io.BytesIO(data))
    if kind == "zip":
        from kusto_pre_forge_spark.sources.epub import is_epub

        # DOCX and EPUB are DOCUMENTS, not bundles — route whole-blob
        if is_epub(head):
            return [(None,) + extract_auto(f.read())]
        try:
            with zipfile.ZipFile(f) as zf:
                docx = "word/document.xml" in set(zf.namelist())
        except zipfile.BadZipFile:
            return [(None, "binary", None)]
        f.seek(0)
        if docx:
            return [(None,) + extract_auto(f.read())]
    if kind == "zip" or (kind == "7z" and py7zr_available()):
        return _member_rows(f, kind) or [(None, kind, None)]
    return [(None,) + extract_auto(f.read())]


def extract_text_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) →
    (kind, text, _kpf_source): the mixed-dump front door, one
    ``blob.map_blobs`` stage; chain ``textprep.html_extract`` /
    ``markdown_extract`` on the tagged html/text rows Spark-side.
    Archive bundles (tar/tar.gz/tar.xz/generic zip) expand to one row
    per member with ``_kpf_source = "<blob>!<member>"`` — the bang
    convention Hadoop archive URIs use."""

    def rows(path, f):
        for member, kind, text in auto_rows(f):
            src = path if member is None else f"{path}!{member}"
            yield {"kind": kind, "text": text, "_kpf_source": src}

    return map_blobs(blobs, rows, AUTOEXTRACT_DDL)


def read_text_auto(spark: SparkSession, path: str) -> DataFrame:
    """Point the engine at a mixed directory/glob; get one typed text
    frame back, format-sniffed per blob. Blobs past the 2 GiB
    binaryFile ceiling open inside the workers (``blob.read_blobs``),
    and their tar bundles stream member at a time, with the same
    rows."""
    return extract_text_blobs(read_blobs(spark, path))
