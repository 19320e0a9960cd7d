"""MediaWiki XML dump source — the Wikipedia-corpus front door.

Wikipedia (and every MediaWiki wiki) publishes its content as XML
export dumps (`<mediawiki><page><revision><text>` — the schema at
https://www.mediawiki.org/xml/export-0.10.xsd), compressed bz2
(`pages-articles.xml.bz2`, ~20 GB for enwiki). Wikipedia is a standard
high-quality LLM pretraining source, so this continues the
document-input family (reference parity: the reference's format
dispatch throws for anything beyond txt,
code/KustoPreForgeLib/EtlRun.cs:87-89).

One read path: ``blob.read_blobs`` + one ``blob.map_blobs`` stage; the
dump opens through ``blob.open_decompressed`` (bz2 / gzip / 7z by magic —
the extension lies) and ``iterparse`` runs INCREMENTALLY, clearing each
``<page>`` element after it yields — a 20 GB enwiki dump (past the 2 GiB
``binaryFile`` ceiling, so its file opens inside the worker) holds ONE
page in memory at a time.

Rows are one per page: (page_no, title, ns, page_id, redirect, text).
Full-history dumps carry many ``<revision>`` blocks per page — the
LAST one (the latest) wins, matching the pages-articles convention.
The page TEXT is raw wikitext; chain
``textprep.wikitext_extract`` Spark-side for prose (the html_extract
posture — extraction is a codegen projection, not Python).

Stdlib-only (``xml.etree.ElementTree`` iterparse, ``bz2``, ``gzip``);
the forge writer emits schema-valid dumps for tests/oracles.
"""

from __future__ import annotations

import bz2
import gzip
import io
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import (
    map_blobs,
    open_decompressed,
    read_blobs,
)
from kusto_pre_forge_spark.sources.xmlrows import (
    XML_DECODE_ERRORS,
    iter_elements,
    local_tag,
)

MEDIAWIKI_DDL = (
    "page_no int, title string, ns int, page_id long, "
    "redirect string, text string, _kpf_source string"
)

def is_mediawiki(data: bytes) -> bool:
    """Head probe: a ``<mediawiki`` root element within the first
    512 bytes (after any XML declaration / BOM / whitespace). Pure
    bytes — compressed dumps peel before probing."""
    head = bytes(data[:512]).lstrip(b"\xef\xbb\xbf \t\r\n")
    if head.startswith(b"<?xml"):
        end = head.find(b"?>")
        if end < 0:
            return False
        head = head[end + 2 :].lstrip()
    return head.startswith(b"<mediawiki")


def _page_row(elem, page_no: int) -> dict:
    title, ns, page_id, redirect, text = None, None, None, None, None
    for child in elem:
        t = local_tag(child.tag)
        if t == "title":
            title = child.text or ""
        elif t == "ns":
            try:
                ns = int(child.text or "0")
            except ValueError:
                ns = None
        elif t == "id" and page_id is None:
            try:
                page_id = int(child.text or "0")
            except ValueError:
                page_id = None
        elif t == "redirect":
            redirect = child.get("title", "")
        elif t == "revision":
            # last revision wins (full-history dumps list oldest first)
            for rchild in child:
                if local_tag(rchild.tag) == "text":
                    text = rchild.text or ""
    return {
        "page_no": page_no,
        "title": title,
        "ns": ns,
        "page_id": page_id,
        "redirect": redirect,
        "text": text,
    }


def iter_mediawiki_pages(f):
    """One row dict per ``<page>`` of a dump open as binary file ``f``
    (plain / .bz2 / .gz / .7z — :func:`blob.open_decompressed` peels
    it), one page resident at a time (``xmlrows.iter_elements``)."""
    return (
        _page_row(elem, page_no)
        for page_no, elem in enumerate(
            iter_elements(open_decompressed(f), "page")
        )
    )


def parse_mediawiki_pages(data: bytes) -> list[dict]:
    """Pure function: dump bytes (plain / .bz2 / .gz) → page row
    dicts; a corrupt dump quarantines as []. Unit-testable without
    Spark."""
    try:
        return list(iter_mediawiki_pages(io.BytesIO(bytes(data))))
    except XML_DECODE_ERRORS:
        return []


def parse_mediawiki_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) → one
    row per page (MEDIAWIKI_DDL) — one ``blob.map_blobs`` stage; a
    corrupt dump yields zero rows on either side of the binaryFile
    ceiling. Chain ``textprep.wikitext_extract`` on ``text`` for
    prose."""
    return map_blobs(
        blobs,
        lambda _path, f: iter_mediawiki_pages(f),
        MEDIAWIKI_DDL,
        XML_DECODE_ERRORS,
    )


def read_mediawiki(spark: SparkSession, path: str) -> DataFrame:
    """Read a MediaWiki dump directory/glob (plain / .bz2 / .gz) as
    one typed row per page. Dumps past the 2 GiB binaryFile ceiling —
    enwiki exceeds it immediately — are opened inside the workers and
    parsed one page at a time (``blob.read_blobs``), with the same
    rows."""
    return parse_mediawiki_blobs(read_blobs(spark, path))


# --------------------------------------------------- fixture-forging writer


def mediawiki_bytes(pages: list[dict], compress: str | None = None) -> bytes:
    """Forge a schema-valid dump. Each page dict: title, ns, page_id,
    text, optional redirect, optional ``old_texts`` (earlier revisions,
    to pin last-revision-wins). ``compress``: None / 'bz2' / 'gzip'."""
    parts = [
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
        'version="0.10" xml:lang="en">\n'
        "  <siteinfo><sitename>forge</sitename></siteinfo>\n"
    ]
    for pg in pages:
        parts.append("  <page>\n")
        parts.append(f"    <title>{escape(pg['title'])}</title>\n")
        parts.append(f"    <ns>{int(pg.get('ns', 0))}</ns>\n")
        parts.append(f"    <id>{int(pg['page_id'])}</id>\n")
        if pg.get("redirect") is not None:
            parts.append(
                '    <redirect title="%s" />\n'
                % escape(pg["redirect"], {'"': "&quot;"})
            )
        revs = list(pg.get("old_texts", [])) + [pg.get("text", "")]
        for rno, rtext in enumerate(revs, start=1):
            parts.append(
                "    <revision>\n"
                f"      <id>{int(pg['page_id']) * 100 + rno}</id>\n"
                '      <text xml:space="preserve">'
                f"{escape(rtext)}</text>\n"
                "    </revision>\n"
            )
        parts.append("  </page>\n")
    parts.append("</mediawiki>\n")
    raw = "".join(parts).encode("utf-8")
    if compress == "bz2":
        return bz2.compress(raw)
    if compress == "gzip":
        return gzip.compress(raw)
    return raw
