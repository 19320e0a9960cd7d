"""Mail-corpus source (mbox / RFC 5322 eml) — the container mail-derived
training corpora ship in (the Enron corpus, public mailing-list
archives, W3C lists).

Reference parity: the reference's format dispatch throws for anything
beyond txt (code/KustoPreForgeLib/EtlRun.cs:87-89); this continues the
document-input family from public specs (RFC 4155 mbox framing,
RFC 5322 message syntax, RFC 2045–2047 MIME) via stdlib ``email`` and
``mailbox``-style splitting:

- mbox framing: messages separated by ``From `` lines at column 0
  (RFC 4155 §2; body lines starting ``>From `` are the classic
  from-stuffing and un-stuff on extraction);
- per message: ``email.message_from_bytes`` (the compat32 parser —
  stdlib, battle-tested) → Subject/From/Date headers (RFC 2047
  encoded-words decoded) and the text/plain body — for multipart
  messages the FIRST text/plain leaf (the convention mail corpora use;
  html-only mail falls back to the first text/html leaf, left raw for
  the shared ``textprep.html_extract`` chain).

Spark-first layout matches the sibling readers: ``blob.read_blobs`` one task
per blob, Arrow ``mapInPandas``, pure map stage; a fixture-forging
writer emits spec-valid mboxes so tests and oracles drive the REAL
parser.
"""

from __future__ import annotations

import email
import email.header
import email.message

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import map_blobs, read_blobs

MAIL_DDL = (
    "msg_no int, subject string, from_addr string, date string, "
    "body string, content_kind string, _kpf_source string"
)


def split_mbox(data: bytes) -> list[bytes]:
    """RFC 4155 framing: split on ``From `` at column 0. A blob that
    does not start with ``From `` is a single raw RFC 5322 message
    (.eml). From-stuffed body lines (``>From ``) un-stuff here."""
    data = bytes(data)
    if not data.startswith(b"From "):
        return [data] if data.strip() else []
    out: list[bytes] = []
    cur: list[bytes] = []
    for line in data.split(b"\n"):
        if line.startswith(b"From ") and cur:
            out.append(b"\n".join(cur))
            cur = [line]
        elif line.startswith(b"From ") and not cur:
            cur = [line]
        elif line.startswith(b">From "):
            cur.append(line[1:])
        else:
            cur.append(line)
    if cur:
        out.append(b"\n".join(cur))
    # drop the mbox From_ line itself — it is framing, not a header
    return [m.split(b"\n", 1)[1] if b"\n" in m else b"" for m in out]


def _decode_header(value) -> str:
    if value is None:
        return ""
    parts = email.header.decode_header(str(value))
    out = []
    for text, charset in parts:
        if isinstance(text, bytes):
            out.append(text.decode(charset or "ascii", "replace"))
        else:
            out.append(text)
    return "".join(out)


def _first_text_part(msg: email.message.Message) -> tuple[str, str]:
    """(body, kind): the first text/plain leaf, else the first
    text/html leaf (raw — the Spark-side html chain extracts prose),
    else ('', 'none')."""
    leaves = (
        [p for p in msg.walk() if not p.is_multipart()]
        if msg.is_multipart()
        else [msg]
    )
    for want in ("text/plain", "text/html"):
        for part in leaves:
            if part.get_content_type() == want:
                payload = part.get_payload(decode=True)
                if payload is None:
                    payload = str(part.get_payload()).encode()
                charset = part.get_content_charset() or "utf-8"
                try:
                    body = payload.decode(charset, "replace")
                except LookupError:
                    body = payload.decode("utf-8", "replace")
                return body, ("text" if want == "text/plain" else "html")
    return "", "none"


def parse_mbox_messages(data: bytes) -> list[dict]:
    """Pure function: mbox/eml bytes → one dict per message
    (msg_no, subject, from_addr, date, body, content_kind)."""
    out = []
    for i, raw in enumerate(split_mbox(data)):
        msg = email.message_from_bytes(raw)
        body, kind = _first_text_part(msg)
        # canonical form: mbox framing consumes the boundary newline of
        # every message EXCEPT the last — strip trailing newlines so a
        # message's body is independent of its position in the file
        body = body.rstrip("\n")
        out.append(
            {
                "msg_no": i,
                "subject": _decode_header(msg.get("Subject")),
                "from_addr": _decode_header(msg.get("From")),
                "date": _decode_header(msg.get("Date")),
                "body": body,
                "content_kind": kind,
            }
        )
    return out


def parse_mail_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) → one
    row per message (MAIL_DDL) — one ``blob.map_blobs`` stage."""
    return map_blobs(
        blobs, lambda _path, f: parse_mbox_messages(f.read()), MAIL_DDL
    )


def read_mbox(spark: SparkSession, path: str) -> DataFrame:
    """Read an mbox/eml directory/glob as one typed row per message."""
    return parse_mail_blobs(read_blobs(spark, path))


# --------------------------------------------------- fixture-forging writer


def mbox_bytes(messages: list[dict]) -> bytes:
    """Forge one RFC 4155 mbox: each entry is {subject, from_addr,
    date, body}; bodies from-stuff on write (and must un-stuff back on
    extraction — pinned in tests)."""
    out = []
    for m in messages:
        body = m["body"].replace("\nFrom ", "\n>From ")
        if body.startswith("From "):
            body = ">" + body
        out.append(
            f"From {m['from_addr']} Thu Jan  1 00:00:00 1970\n"
            f"From: {m['from_addr']}\n"
            f"Subject: {m['subject']}\n"
            f"Date: {m['date']}\n"
            'Content-Type: text/plain; charset="utf-8"\n'
            "Content-Transfer-Encoding: 8bit\n"
            "MIME-Version: 1.0\n"
            "\n"
            f"{body}\n"
        )
    return "".join(out).encode("utf-8")
