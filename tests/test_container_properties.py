"""Property-based roundtrip tests for the container forges/parsers
(PDF, DOCX, WARC, ipynb) — hypothesis drives arbitrary Unicode text
through the REAL encoders and parsers, a far wider input space than the
hand-picked fixtures. Pure-python (no Spark session), so the examples
run fast and shrink well."""

from hypothesis import given, settings
from hypothesis import strategies as st

# XML 1.0 / PDF string sanity: exclude the control chars neither format
# can legally carry (except \n\t), surrogates, and BOM-ambiguous chars.
_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),
        blacklist_characters="".join(
            chr(c) for c in range(32) if c not in (9, 10)
        )
        + "\r\x7f﻿",
    ),
    max_size=400,
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=4))
def test_pdf_roundtrip_property_classic(pages):
    from kusto_pre_forge_spark.sources import pdf as P

    assert P.extract_pdf_pages(P.pdf_bytes(pages)) == pages


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=4))
def test_pdf_roundtrip_property_xrefstream(pages):
    from kusto_pre_forge_spark.sources import pdf as P

    assert P.extract_pdf_pages(P.pdf_bytes_xrefstream(pages)) == pages


@settings(max_examples=60, deadline=None)
@given(_text)
def test_docx_roundtrip_property(text):
    from kusto_pre_forge_spark.sources import docx as D

    got, n = D.extract_docx_text(D.docx_bytes(text))
    assert got == text
    assert n == len(text.split("\n"))


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=3), st.booleans())
def test_warc_roundtrip_property(bodies, gzip_members):
    """The WARC iterator must recover every record body byte-for-byte,
    for arbitrary Unicode payloads, plain and gzip-member framed — the
    same records read through the decompressing opener and from the
    peeled bytes at a small chunk size."""
    import io

    from kusto_pre_forge_spark.sources import warc as W
    from kusto_pre_forge_spark.sources.blob import open_decompressed

    recs = [
        W.warc_record_bytes(f"https://example.com/{i}", b.encode("utf-8"))
        for i, b in enumerate(bodies)
    ]
    blob = W.write_warc(recs, gzip_per_record=gzip_members)
    mem = list(W.iter_warc_records_from(open_decompressed(io.BytesIO(blob))))
    raw = open_decompressed(io.BytesIO(blob)).read()
    stream = list(W.iter_warc_records_from(io.BytesIO(raw), chunk_size=17))
    assert mem == stream
    got = [
        W.parse_http_response(block)[2].decode("utf-8")
        for _, block in mem
    ]
    assert got == bodies


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["code", "markdown", "raw"]), _text),
        min_size=1,
        max_size=4,
    )
)
def test_ipynb_roundtrip_property(cells):
    from kusto_pre_forge_spark.sources import ipynb as N

    got = N.notebook_cells(N.ipynb_bytes(cells))
    assert [(c["cell_type"], c["source"]) for c in got] == cells


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=3))
def test_pdf_roundtrip_property_cid(pages):
    """The subset-font layout (ToUnicode CMap) holds on arbitrary
    Unicode too — glyph-code assignment, bfrange/bfchar emission, and
    the greedy CMap decoder all property-checked."""
    from kusto_pre_forge_spark.sources import pdf as P

    assert P.extract_pdf_pages(P.pdf_bytes_cid(pages)) == pages


# archive member names: portable path chars, no leading slash / drive
_member = st.from_regex(r"[A-Za-z0-9_][A-Za-z0-9_.\-/]{0,30}", fullmatch=True).filter(
    lambda s: ".." not in s and not s.endswith("/")
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(_member, st.text(max_size=200)),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from(["tar", "tar.gz", "tar.xz", "zip"]),
)
def test_archive_member_roundtrip_property(members, form):
    """Every (name, text) member of a tar/tar.gz/tar.xz/zip bundle must
    come back through the bundle-aware front door with its name and
    UTF-8 text intact, in archive order."""
    import gzip
    import io
    import lzma
    import tarfile
    import zipfile

    from kusto_pre_forge_spark.sources import autoextract as A

    payload = [(n, t.encode("utf-8")) for n, t in members]
    if form == "zip":
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for n, b in payload:
                z.writestr(n, b)
        blob = buf.getvalue()
    else:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for n, b in payload:
                ti = tarfile.TarInfo(n)
                ti.size = len(b)
                tf.addfile(ti, io.BytesIO(b))
        blob = buf.getvalue()
        if form == "tar.gz":
            blob = gzip.compress(blob)
        elif form == "tar.xz":
            blob = lzma.compress(blob)
    rows = A.auto_rows(io.BytesIO(blob))
    # members whose CONTENT sniffs as a container kind still surface
    # under their member name; plain-text members roundtrip exactly
    assert [r[0] for r in rows] == [n for n, _ in members]
    for (name, text), (gname, kind, gtext) in zip(members, rows):
        if kind == "text":
            assert gtext == text


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=3))
def test_epub_roundtrip_property(chapters):
    """Spine-ordered chapter extraction reproduces every forged chapter
    body verbatim (raw member slice — no XML loss), for arbitrary
    Unicode, despite member names being written in reversed order."""
    from kusto_pre_forge_spark.sources import epub as E

    got = E.extract_epub_chapters(E.epub_bytes(chapters))
    assert [
        h[h.index("<body>") + 6 : h.index("</body>")] for _, h in got
    ] == chapters


# mail bodies: exclude lone \r (the email parser canonicalizes \r\n)
_mail_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),
        blacklist_characters="".join(
            chr(c) for c in range(32) if c not in (9, 10)
        )
        + "\r\x7f",
    ),
    max_size=300,
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_mail_text, min_size=1, max_size=3))
def test_mbox_roundtrip_property(bodies):
    """mbox framing + from-stuffing + 8bit MIME reproduce every body in
    canonical (trailing-newline-stripped) form for arbitrary Unicode."""
    from kusto_pre_forge_spark.sources import mail as M

    msgs = [
        {"subject": f"s{i}", "from_addr": "u@example.org", "date": "",
         "body": b}
        for i, b in enumerate(bodies)
    ]
    got = M.parse_mbox_messages(M.mbox_bytes(msgs))
    assert [m["body"] for m in got] == [b.rstrip("\n") for b in bodies]


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=3))
def test_mediawiki_roundtrip_property(texts):
    """The dump forge → iterparse walk must recover every page's
    wikitext verbatim (XML escape/unescape on the hook) for arbitrary
    Unicode, under every compression arm."""
    from kusto_pre_forge_spark.sources import mediawiki as MW

    pages = [
        dict(title=f"P{i}", ns=0, page_id=i + 1, text=t)
        for i, t in enumerate(texts)
    ]
    for comp in (None, "bz2"):
        rows = MW.parse_mediawiki_pages(
            MW.mediawiki_bytes(pages, compress=comp)
        )
        assert [r["text"] for r in rows] == texts
        assert [r["title"] for r in rows] == [f"P{i}" for i in range(len(texts))]


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=3))
def test_xmlrows_roundtrip_property(values):
    """Attribute escape (quoteattr) → iterparse unescape must be the
    identity for arbitrary Unicode attribute values."""
    import io

    from kusto_pre_forge_spark.sources import xmlrows as XR

    rows = [dict(Id=i, Val=v) for i, v in enumerate(values)]
    got = list(XR.iter_xml_rows(io.BytesIO(XR.xml_rows_bytes(rows)), ["Id", "Val"]))
    assert [r["Val"] for r in got] == [str(v) for v in values]


# RTF legally carries \r\n as ignorable whitespace but never as TEXT —
# the forge emits \par for \n, so the roundtrip text space excludes \r
# (normalized by every RTF writer) but keeps \n and \t.
_rtf_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),
        blacklist_characters="".join(
            chr(c) for c in range(32) if c not in (9, 10)
        )
        + "\r\x7f",
    ),
    max_size=300,
)


@settings(max_examples=60, deadline=None)
@given(_rtf_text)
def test_rtf_roundtrip_property(text):
    """Forge (escapes + \\uN? unicode incl. surrogate pairs) → state
    machine must be the identity for arbitrary Unicode text."""
    from kusto_pre_forge_spark.sources import rtf as R

    got, _ = R.extract_rtf_text(R.rtf_bytes(text))
    assert got == text
