"""EPUB text-extraction source — the ebook container books corpora ship
in (Project Gutenberg, the books slices of public LLM mixes).

Reference parity: the reference's format dispatch throws for anything
beyond txt (code/KustoPreForgeLib/EtlRun.cs:87-89); this continues the
crawl/document-input family (warc/pdf/docx/ipynb) from the public spec.
An EPUB (EPUB OCF 3.x; IDPF/W3C) is a ZIP whose FIRST member is an
uncompressed ``mimetype`` file holding ``application/epub+zip``; the OCF
container descriptor ``META-INF/container.xml`` names the package
document (OPF), whose ``<manifest>`` maps ids to hrefs and whose
``<spine>`` lists the READING ORDER as idrefs. Extraction resolves
container → OPF → spine and returns each content document's RAW (X)HTML
in spine order — html stays raw here by the house convention (the WARC
posture): prose extraction is the Spark-side codegen chain
(``textprep.html_extract``), shared with the crawl front.

Everything is stdlib (``zipfile`` + ``re``): the ZIP layer is the real
container, and the two XML lookups (container rootfile, OPF
manifest/spine) are scanned with alternation regexes — no XML library.
Spark-first layout matches the sibling readers: ``blob.read_blobs`` one task
per blob, Arrow ``mapInPandas``, a pure map stage at any corpus size; a
fixture-forging writer emits spec-valid books so tests and oracles drive
the REAL parser.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import map_blobs, read_blobs

EPUB_DDL = "chapter_no int, href string, html string, _kpf_source string"

_ROOTFILE_RE = re.compile(
    rb'<rootfile[^>]*full-path="([^"]+)"[^>]*/?>', re.IGNORECASE
)
_ITEM_RE = re.compile(
    rb"<item\b[^>]*>", re.IGNORECASE
)
_ITEMREF_RE = re.compile(
    rb'<itemref[^>]*idref="([^"]+)"[^>]*/?>', re.IGNORECASE
)
_ATTR_RE = re.compile(rb'([a-zA-Z-]+)="([^"]*)"')


def is_epub(data: bytes) -> bool:
    """OCF §3.3: the FIRST zip member must be an uncompressed file named
    ``mimetype`` with content ``application/epub+zip`` — which puts the
    ASCII mimetype at a FIXED offset (30 + len("mimetype") = 38) in the
    raw bytes, so the sniff is a pure byte probe like every other magic
    check (no zip parse needed)."""
    head = bytes(data[:128])
    return (
        head.startswith(b"PK\x03\x04")
        and head[30:38] == b"mimetype"
        # content follows the (possibly extra-field-padded) local header
        and b"application/epub+zip" in head
    )


def extract_epub_chapters(data: bytes) -> list[tuple[str, str]]:
    """Pure function: epub bytes → [(href, raw html)] in SPINE order —
    the reading order the author declared, which member-name order does
    NOT preserve (publishers number files arbitrarily). Malformed
    books degrade gracefully: no container/OPF → every .xhtml/.html
    member in name order (crawl repair posture); unknown idrefs and
    missing members skip."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(bytes(data)))
    except zipfile.BadZipFile:
        return []
    with zf:
        names = set(zf.namelist())

        def read(name: str) -> bytes | None:
            return zf.read(name) if name in names else None

        container = read("META-INF/container.xml")
        opf_path = None
        if container is not None:
            m = _ROOTFILE_RE.search(container)
            if m:
                opf_path = m.group(1).decode("utf-8", "replace")
        opf = read(opf_path) if opf_path else None
        if opf is None:
            # repair posture: all content docs in name order
            out = []
            for n in sorted(names):
                if n.lower().endswith((".xhtml", ".html", ".htm")):
                    out.append(
                        (n, (read(n) or b"").decode("utf-8", "replace"))
                    )
            return out
        base = posixpath.dirname(opf_path)
        id_to_href: dict[str, str] = {}
        for m in _ITEM_RE.finditer(opf):
            attrs = {
                k.decode(): v.decode("utf-8", "replace")
                for k, v in _ATTR_RE.findall(m.group(0))
            }
            if "id" in attrs and "href" in attrs:
                id_to_href[attrs["id"]] = attrs["href"]
        chapters: list[tuple[str, str]] = []
        for m in _ITEMREF_RE.finditer(opf):
            href = id_to_href.get(m.group(1).decode("utf-8", "replace"))
            if not href:
                continue
            member = posixpath.normpath(
                posixpath.join(base, href) if base else href
            )
            body = read(member)
            if body is None:
                continue
            chapters.append((href, body.decode("utf-8", "replace")))
        return chapters


def parse_epub_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) → one
    row per spine chapter (EPUB_DDL) — one ``blob.map_blobs`` stage;
    chain ``textprep.html_extract`` on ``html`` for prose."""

    def rows(_path, f):
        for i, (href, html) in enumerate(extract_epub_chapters(f.read())):
            yield {"chapter_no": i, "href": href, "html": html}

    return map_blobs(blobs, rows, EPUB_DDL)


def read_epub(spark: SparkSession, path: str) -> DataFrame:
    """Read an EPUB directory/glob as one typed row per spine chapter
    with ``_kpf_source`` lineage."""
    return parse_epub_blobs(read_blobs(spark, path))


# --------------------------------------------------- fixture-forging writer


def epub_bytes(chapters: list[str], title: str = "forged") -> bytes:
    """Forge one spec-valid EPUB: stored (uncompressed) ``mimetype``
    first, OCF container.xml, an OPF with manifest + spine, and one
    XHTML content document per chapter — spine order DELIBERATELY
    differs from member-name order (chapters are written reversed), so
    a parser that reads members by name instead of resolving the spine
    fails the roundtrip."""
    buf = io.BytesIO()
    n = len(chapters)
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            zipfile.ZipInfo("mimetype"),
            "application/epub+zip",
            compress_type=zipfile.ZIP_STORED,
        )
        zf.writestr(
            "META-INF/container.xml",
            '<?xml version="1.0"?>\n<container version="1.0" '
            'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">\n'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles>\n'
            "</container>",
        )
        items = "".join(
            f'<item id="ch{i}" href="text/part{n - 1 - i}.xhtml" '
            'media-type="application/xhtml+xml"/>'
            for i in range(n)
        )
        refs = "".join(f'<itemref idref="ch{i}"/>' for i in range(n))
        zf.writestr(
            "OEBPS/content.opf",
            '<?xml version="1.0"?>\n'
            '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
            f"<metadata><dc:title>{title}</dc:title></metadata>"
            f"<manifest>{items}</manifest><spine>{refs}</spine></package>",
        )
        # write members in REVERSED name order vs spine (see docstring)
        for i, body in enumerate(chapters):
            zf.writestr(
                f"OEBPS/text/part{n - 1 - i}.xhtml",
                "<?xml version='1.0'?><html><body>" + body + "</body></html>",
            )
    return buf.getvalue()
