"""WARC (Web ARChive) source — Common Crawl's native container.

Reference parity: the reference ingests whatever blob bytes land in the
landing container (code/KustoPreForgeLib/BlobSources/ListBlobSource.cs) and
delegates format handling; a crawl pipeline's raw input is WARC, so this
sibling of the Avro/W3C readers closes the crawl-input front. Implemented
from the public spec (ISO 28500 / WARC 1.1,
https://iipc.github.io/warc-specifications/specifications/warc-format/warc-1.1/):
a record is a ``WARC/1.x`` version line, CRLF-terminated named headers, a
blank line, ``Content-Length`` octets of block, and a two-CRLF terminator.
``response`` records carry an HTTP/1.x message as their block; the payload
is the entity body (de-chunked when ``Transfer-Encoding: chunked``).

Spark-first layout: blobs come from ``blob.read_blobs`` — one task per
blob, which is also Common Crawl's unit of distribution (~1 GB segments)
— and records decode in Arrow batches through ``blob.map_blobs``.
``blob.open_decompressed`` peels ``.gz`` incrementally, including the
Common Crawl convention of one gzip MEMBER per record, so whole-file and
per-record compression both just work.

The parser (:func:`iter_warc_records_from`) reads a file object one
record at a time, so the record framing is unit-testable without Spark
and the same on both sides of the binaryFile ceiling.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import (
    DECODE_ERRORS,
    map_blobs,
    open_decompressed,
    read_blobs,
)

WARC_DDL = (
    "warc_type string, record_id string, warc_date timestamp, "
    "target_uri string, content_type string, content_length long, "
    "http_status int, http_content_type string, payload binary, "
    "payload_text string, _kpf_source string"
)


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer encoding body (RFC 9112 §7.1).
    Malformed chunking returns the raw bytes — a crawl archive's job is
    to surface what was captured, not to drop it."""
    out = bytearray()
    buf = io.BytesIO(body)
    try:
        while True:
            line = buf.readline()
            if not line:
                return bytes(body)
            size = int(line.split(b";")[0].strip() or b"0", 16)
            if size == 0:
                break
            chunk = buf.read(size)
            if len(chunk) < size:
                return bytes(body)
            out.extend(chunk)
            buf.read(2)  # chunk's trailing CRLF
    except ValueError:
        return bytes(body)
    return bytes(out)


def parse_http_response(block: bytes):
    """(status:int|None, headers:dict[lower str,str], body:bytes) from an
    HTTP response message. Non-HTTP blocks return (None, {}, block)."""
    if not block.startswith(b"HTTP/"):
        return None, {}, block
    head, sep, body = block.partition(b"\r\n\r\n")
    if not sep:
        return None, {}, block
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        return None, {}, block
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        name, _, value = ln.partition(b":")
        if _:
            headers[name.strip().lower().decode("latin-1")] = (
                value.strip().decode("latin-1")
            )
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    return status, headers, body


def iter_warc_records_from(fileobj, chunk_size: int = 1 << 20):
    """Yield (headers: dict[lower str, str], block: bytes) per WARC
    record of a FILE OBJECT, reading ``chunk_size`` bytes at a time and
    never holding more than one record (+ one chunk) in memory. Framing
    is Content-Length-driven (the spec's contract); stray bytes between
    records (padding, truncated tails) are skipped by scanning to the
    next ``WARC/`` version line, and a truncated tail surfaces what
    framed completely."""
    buf = bytearray()
    eof = False

    def fill(need: int) -> bool:
        nonlocal eof
        while len(buf) < need and not eof:
            chunk = fileobj.read(chunk_size)
            if not chunk:
                eof = True
                return len(buf) >= need
            buf.extend(chunk)
        return len(buf) >= need

    while True:
        # scan to the next version line (same contract as the in-memory
        # iterator: stray padding/truncated tails between records skip)
        while True:
            nxt = buf.find(b"WARC/")
            if nxt >= 0:
                del buf[:nxt]
                break
            if eof:
                return
            # keep the last 4 bytes — a marker could straddle the chunk seam
            del buf[: max(0, len(buf) - 4)]
            if not fill(len(buf) + 1):
                return
        # accumulate the full header (blank-line terminated)
        while True:
            head_end = buf.find(b"\r\n\r\n")
            if head_end >= 0:
                break
            if eof:
                return
            fill(len(buf) + 1)
        lines = bytes(buf[:head_end]).split(b"\r\n")
        if not lines[0].startswith(b"WARC/"):
            del buf[:5]
            continue
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            name, sep, value = ln.partition(b":")
            if sep:
                headers[name.strip().lower().decode("latin-1")] = (
                    value.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            del buf[: head_end + 4]
            continue
        if not fill(head_end + 4 + length):
            return  # truncated tail — surface what framed completely
        block = bytes(buf[head_end + 4 : head_end + 4 + length])
        del buf[: head_end + 4 + length]
        yield headers, block


def _record_row(headers: dict, block: bytes, want) -> dict | None:
    """(headers, block) → one WARC_DDL row dict (lineage aside), or None
    when filtered."""
    wtype = headers.get("warc-type", "")
    if want is not None and wtype.lower() not in want:
        return None
    status, http_headers, body = parse_http_response(block)
    payload = body if status is not None else block
    return {
        "warc_type": wtype,
        "record_id": headers.get("warc-record-id"),
        "warc_date": headers.get("warc-date"),
        "target_uri": headers.get("warc-target-uri"),
        "content_type": headers.get("content-type"),
        "content_length": int(headers["content-length"]),
        "http_status": status,
        "http_content_type": http_headers.get("content-type"),
        "payload": payload,
        "payload_text": payload.decode("utf-8", "replace"),
    }


def warc_rows(f, record_types=("response",)):
    """Row dicts of one WARC blob open as binary file ``f`` (plain or
    compressed — :func:`blob.open_decompressed` peels it), one record
    resident at a time. ``record_types=None`` keeps every record."""
    want = {t.lower() for t in record_types} if record_types else None
    for headers, block in iter_warc_records_from(open_decompressed(f)):
        row = _record_row(headers, block, want)
        if row is not None:
            yield row


def records_to_rows(path: str, content: bytes, record_types):
    """One WARC blob's bytes → list of row dicts (the WARC_DDL columns).
    A blob whose compression framing is corrupt quarantines as zero rows
    — one bad archive must not fail the task holding ten thousand good
    ones (truncated TAILS still surface what framed completely)."""
    try:
        return [
            {**row, "_kpf_source": path}
            for row in warc_rows(io.BytesIO(bytes(content)), record_types)
        ]
    except DECODE_ERRORS:
        return []


def _warc_dates(pdf):
    import pandas as pd

    pdf["warc_date"] = pd.to_datetime(
        pdf["warc_date"], format="ISO8601", errors="coerce", utc=True
    ).dt.tz_localize(None)
    return pdf


def parse_warc_blobs(
    blobs: DataFrame, record_types=("response",)
) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) → one
    typed row per WARC record.

    Arrow-batched pure map stage (``blob.map_blobs``): each blob's
    records never leave the task that read it — the plan is scan +
    project at any corpus size, and filtering to ``record_types``
    (default: ``response`` only, the records a text pipeline wants)
    happens before any bytes are materialized into rows.
    ``record_types=None`` keeps everything (warcinfo/request/metadata
    included). A blob whose compression framing is corrupt yields zero
    rows on either side of the binaryFile ceiling."""
    return map_blobs(
        blobs,
        lambda _path, f: warc_rows(f, record_types),
        WARC_DDL,
        DECODE_ERRORS,
        _warc_dates,
    )


def read_warc(
    spark: SparkSession, path: str, record_types=("response",)
) -> DataFrame:
    """Read a WARC directory/glob (``.warc`` / ``.warc.gz``) as a typed
    DataFrame with ``_kpf_source`` lineage — the crawl→text pipeline's
    first reader; compose with ``textprep.html_extract`` on
    ``payload_text`` for main-content extraction. One task per blob (the
    Common Crawl ~1 GiB distribution unit); files past the binaryFile
    ceiling are read inside the workers (``blob.read_blobs``) with the
    same rows."""
    return parse_warc_blobs(read_blobs(spark, path), record_types)


# --------------------------------------------------- fixture-forging writer


def warc_record_bytes(
    uri: str,
    body: bytes,
    date: str = "2024-01-01T00:00:00Z",
    record_id: str | None = None,
    warc_type: str = "response",
    http_content_type: str = "text/html; charset=utf-8",
    content_type: str | None = None,
) -> bytes:
    """One spec-shaped record for fixtures/tests (response records wrap
    the body in an HTTP/1.1 200 message, like a crawler capture).
    ``content_type`` overrides the record-level Content-Type header —
    WET conversion records declare ``text/plain``, WAT metadata records
    ``application/json`` (the Common Crawl sidecar conventions)."""
    if warc_type == "response":
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: "
            + http_content_type.encode()
            + b"\r\nContent-Length: "
            + str(len(body)).encode()
            + b"\r\n\r\n"
            + body
        )
        block, ctype = http, "application/http; msgtype=response"
    else:
        block, ctype = body, "application/octet-stream"
    if content_type is not None:
        ctype = content_type
    rid = record_id or f"<urn:uuid:{abs(hash(uri)) % 10**12}>"
    head = (
        f"WARC/1.1\r\nWARC-Type: {warc_type}\r\nWARC-Record-ID: {rid}\r\n"
        f"WARC-Date: {date}\r\nWARC-Target-URI: {uri}\r\n"
        f"Content-Type: {ctype}\r\nContent-Length: {len(block)}\r\n\r\n"
    )
    return head.encode() + block + b"\r\n\r\n"


def write_warc(records, gzip_per_record: bool = False) -> bytes:
    """Concatenate forged records into one WARC blob; with
    ``gzip_per_record`` each record becomes its own gzip member (the
    Common Crawl convention). Level 1: fixture forging is CPU-bound on
    compression and the reader must handle any valid member anyway."""
    if gzip_per_record:
        return b"".join(gzip.compress(r, compresslevel=1) for r in records)
    return b"".join(records)
