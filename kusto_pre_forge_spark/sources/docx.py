"""DOCX (Office Open XML, ECMA-376) text-extraction source — after HTML
and PDF, the next most common document container in a real crawl.

Reference parity: the reference's format dispatch throws for anything
beyond txt (code/KustoPreForgeLib/EtlRun.cs:87-89); this continues the
crawl-input family (`sources/warc.py`, `sources/pdf.py`) from the public
spec. A .docx file is a ZIP package (ECMA-376 Part 2, OPC) whose main
document part ``word/document.xml`` (Part 1 §11.3.10) holds the body as
``<w:p>`` paragraphs of ``<w:r>`` runs; the text lives in ``<w:t>``
elements, with ``<w:tab/>`` and ``<w:br/>`` as explicit tab/line-break
marks. Extraction walks those four constructs in document order —
paragraphs join with newlines — and decodes the five XML predefined
entities plus numeric character references. Styling, tables-as-structure,
headers/footers, and embedded media are out of scope by design: the
training-corpus question is "what text does this file carry".

Everything is stdlib (``zipfile`` + ``re``): the ZIP layer is the real
container format, and the XML subset is scanned with a single alternation
regex per paragraph — no XML library dependency, unit-testable without
Spark. Spark-first layout matches the sibling readers: ``blob.read_blobs`` one
task per blob, Arrow ``mapInPandas`` decode, a pure map stage at any
corpus size; a fixture-forging writer emits spec-valid packages
([Content_Types].xml + _rels/.rels + document.xml) so tests and oracles
drive the REAL parser.
"""

from __future__ import annotations

import io
import re
import zipfile

from pyspark.sql import DataFrame, SparkSession

from kusto_pre_forge_spark.sources.blob import map_blobs, read_blobs

DOCX_DDL = "text string, n_paragraphs int, _kpf_source string"

_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


def _unescape_xml(s: str) -> str:
    def sub(m: re.Match) -> str:
        body = m.group(1)
        if body.startswith("#x") or body.startswith("#X"):
            try:
                return chr(int(body[2:], 16))
            except ValueError:
                return m.group(0)
        if body.startswith("#"):
            try:
                return chr(int(body[1:]))
            except ValueError:
                return m.group(0)
        return _ENTITIES.get(body, m.group(0))

    return re.sub(r"&([A-Za-z]+|#[0-9]+|#[xX][0-9A-Fa-f]+);", sub, s)


_PARA_RE = re.compile(r"<w:p[ >].*?</w:p>|<w:p/>", re.DOTALL)
_TOKEN_RE = re.compile(
    r"<w:t(?:\s[^>]*)?>(.*?)</w:t>|<w:tab\s*/>|<w:br\s*/>", re.DOTALL
)


def document_xml_text(xml: str) -> str:
    """``word/document.xml`` markup → plain text: per ``<w:p>``
    paragraph, concatenate ``<w:t>`` runs (entity-decoded), ``<w:tab/>``
    → TAB, ``<w:br/>`` → newline; paragraphs join with newlines."""
    paragraphs = []
    for p in _PARA_RE.findall(xml):
        parts = []
        for m in _TOKEN_RE.finditer(p):
            if m.group(1) is not None:  # <w:t> run (group 1 captures it)
                parts.append(_unescape_xml(m.group(1)))
            elif m.group(0).startswith("<w:tab"):
                parts.append("\t")
            else:
                parts.append("\n")
        paragraphs.append("".join(parts))
    return "\n".join(paragraphs)


def extract_docx_text(data: bytes) -> tuple[str, int]:
    """The whole pipeline as a pure function: package bytes →
    (text, n_paragraphs). A bytes blob that is not a ZIP, or a ZIP
    without a main document part, yields ('', 0) — the crawl posture
    (surface what parses; the caller's quality gates drop empties)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(bytes(data)))
    except zipfile.BadZipFile:
        return "", 0
    try:
        xml = zf.read("word/document.xml").decode("utf-8", "replace")
    except KeyError:
        return "", 0
    paragraphs = _PARA_RE.findall(xml)
    return document_xml_text(xml), len(paragraphs)


# ------------------------------------------------------------- Spark layer


def parse_docx_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) → one
    row per document (DOCX_DDL) — one ``blob.map_blobs`` stage: ZIP
    inflate + XML scan happen in the task that read the blob; nothing
    shuffles."""

    def rows(_path, f):
        text, n_par = extract_docx_text(f.read())
        yield {"text": text, "n_paragraphs": n_par}

    return map_blobs(blobs, rows, DOCX_DDL)


def read_docx(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory/glob of .docx packages as one typed row per
    document with ``_kpf_source`` lineage — composes with the same
    downstream gates as ``html_extract`` / ``read_pdf`` output."""
    return parse_docx_blobs(read_blobs(spark, path))


# --------------------------------------------------- fixture-forging writer


def _escape_xml(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)


def docx_bytes(text: str) -> bytes:
    """Forge one spec-valid .docx package: OPC content-types + package
    rels + a main document part whose paragraphs are ``text``'s lines
    (one ``<w:t xml:space="preserve">`` run each, XML-escaped).
    Extraction must reproduce ``text`` EXACTLY — newlines become
    paragraph boundaries and back."""
    paras = "".join(
        "<w:p><w:r><w:t xml:space=\"preserve\">"
        + _escape_xml(line)
        + "</w:t></w:r></w:p>"
        for line in text.split("\n")
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{paras}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr("word/document.xml", document)
    return buf.getvalue()
