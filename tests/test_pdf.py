"""PDF text-extraction source (sources/pdf.py) — pure-bytes parser units
plus the Spark blob→pages layer. The forge (pdf_bytes) writes spec-valid
PDFs (real xref table, Flate content streams), so every test exercises
the REAL parser end-to-end, the sources/warc.py fixture posture."""

import zlib

import pytest

from kusto_pre_forge_spark.sources import pdf as P


def _minimal_pdf(objs: dict[int, bytes], with_xref: bool = True) -> bytes:
    """Assemble numbered object bodies into a PDF, optionally with a
    correct xref table + trailer (object 1 must be the catalog)."""
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(out)
        out += f"{n} 0 obj\n".encode() + objs[n] + b"\nendobj\n"
    if with_xref:
        xref_at = len(out)
        out += b"xref\n0 1\n0000000000 65535 f \n"
        for n in sorted(objs):
            out += f"{n} 1\n{offs[n]:010d} 00000 n \n".encode()
        out += (
            f"trailer\n<< /Size {max(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF"
        ).encode()
    return bytes(out)


def test_forge_roundtrip_exact():
    pages = [
        "hello world\nsecond line",
        "café ü — em-dash 中文 and emoji 🙂\n\ntrailing empty\n",
        "",
        "parens (nested (deep)) and \\ backslash",
        "\nleading newline",
    ]
    for compress in (True, False):
        assert P.extract_pdf_pages(P.pdf_bytes(pages, compress=compress)) == pages


def test_xref_walk_is_the_primary_path():
    data = P.pdf_bytes(["a", "b"])
    xr = P._xref_offsets(data)
    assert xr is not None
    offsets, trailer = xr
    # every forged object is addressable at its declared offset
    for num, off in offsets.items():
        parsed = P._parse_indirect_at(data, off)
        assert parsed is not None and parsed[0] == num
    assert isinstance(trailer.get("Root"), P._Ref)


def test_broken_xref_falls_back_to_scan():
    pages = ["recovered text"]
    data = P.pdf_bytes(pages)
    assert P.extract_pdf_pages(data.replace(b"startxref", b"startxrEF")) == pages
    # no trailer/catalog-ref at all: catalog found by /Type scan
    body = data[: data.rfind(b"xref")]
    assert P.extract_pdf_pages(body) == pages


def test_literal_string_escapes_and_operators():
    """§7.3.4.2 escapes (named, octal, line fold), TJ kerning arrays,
    the ' newline-show operator, and an interior /Pages tree node."""
    content1 = (
        b"BT /F1 12 Tf (Hi \\(there\\) \\\\ end\\051) Tj T*\n"
        b"[(kern) -120 (ed)] TJ (third) '\nET"
    )
    content2 = b"BT (\\101\\102\\103 oct) Tj T* (a\\\nb folded) Tj ET"
    hex2 = content2.hex().encode() + b">"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [7 0 R] /Count 2 >>",
        7: b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 /Parent 2 0 R >>",
        3: b"<< /Type /Page /Parent 7 0 R /Contents 5 0 R >>",
        4: b"<< /Type /Page /Parent 7 0 R /Contents 6 0 R >>",
        # /Length via indirect reference (object 8)
        5: b"<< /Length 8 0 R >>\nstream\n" + content1 + b"\nendstream",
        6: b"<< /Length " + str(len(hex2)).encode()
        + b" /Filter /ASCIIHexDecode >>\nstream\n" + hex2 + b"\nendstream",
        8: str(len(content1)).encode(),
    }
    got = P.extract_pdf_pages(_minimal_pdf(objs))
    assert got == ["Hi (there) \\ end)\nkerned\nthird", "ABC oct\nab folded"]


def test_unsupported_filter_strict_vs_skip():
    data = P.pdf_bytes(["fine page"]).replace(
        b"/FlateDecode", b"/DCTDecode\x20\x20"
    )
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        P.extract_pdf_pages(data, errors="strict")
    assert P.extract_pdf_pages(data) == [""]  # crawl posture: skip


def test_filter_chain_and_text_string_boms():
    """A [ASCIIHexDecode FlateDecode] chain, plus UTF-8-BOM literal and
    plain latin-1 strings decoding per §7.9.2.2."""
    content = (
        b"BT (\xef\xbb\xbfutf8 \xc3\xa9) Tj T* (plain \xe9) Tj ET"
    )
    enc = zlib.compress(content).hex().encode() + b">"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: b"<< /Length " + str(len(enc)).encode()
        + b" /Filter [/ASCIIHexDecode /FlateDecode] >>\nstream\n"
        + enc + b"\nendstream",
    }
    assert P.extract_pdf_pages(_minimal_pdf(objs)) == ["utf8 é\nplain é"]


def test_contents_array_concatenates_streams():
    c1, c2 = b"BT (part one) Tj", b"(part two) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents [4 0 R 5 0 R] >>",
        4: b"<< /Length " + str(len(c1)).encode() + b" >>\nstream\n" + c1 + b"\nendstream",
        5: b"<< /Length " + str(len(c2)).encode() + b" >>\nstream\n" + c2 + b"\nendstream",
    }
    # §7.8.2: split content streams parse as one (BT in one, ET in the next)
    assert P.extract_pdf_pages(_minimal_pdf(objs)) == ["part onepart two"]


def test_parse_pdf_blobs_spark_layer(spark, tmp_path):
    """binaryFile → mapInPandas plumbing: per-page rows, lineage column,
    page order, and a pure-map plan (zero exchanges)."""
    import glob

    docs = {"a.pdf": ["alpha\nbeta", "gamma"], "b.pdf": ["solo page"]}
    for name, pages in docs.items():
        (tmp_path / name).write_bytes(P.pdf_bytes(pages))
    df = P.read_pdf(spark, str(tmp_path / "*.pdf"))
    rows = df.collect()
    got = {}
    for r in rows:
        key = r._kpf_source.rsplit("/", 1)[-1]
        got.setdefault(key, {})[r.page_no] = (r.page_text, r.n_pages)
    assert got == {
        "a.pdf": {0: ("alpha\nbeta", 2), 1: ("gamma", 2)},
        "b.pdf": {0: ("solo page", 1)},
    }
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "pdf parse must stay a pure map stage"


def test_pdf_streaming_landing(spark, tmp_path):
    """PDF blobs dropped into the landing dir stream through binaryFile
    into the same pure-map page decode as the batch reader — the crawl
    container invariant (every batch format streams) extends to PDF."""
    from kusto_pre_forge_spark.streaming.ingest import StreamingEtl

    land = tmp_path / "pdf_landing"
    land.mkdir()
    (land / "a.pdf").write_bytes(P.pdf_bytes(["first page", "second page"]))
    (land / "b.pdf").write_bytes(P.pdf_bytes(["solo"]))
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_pdf"),
        str(tmp_path / "out_pdf"),
        schema=None,
        fmt="pdf",
        max_files_per_trigger=1,
    )
    q = (
        etl._source()
        .writeStream.format("memory")
        .queryName("pdf_mem")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_pdf"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM pdf_mem").collect()
    got = {}
    for r in rows:
        key = r._kpf_source.rsplit("/", 1)[-1]
        got.setdefault(key, {})[r.page_no] = r.page_text
    assert got == {
        "a.pdf": {0: "first page", 1: "second page"},
        "b.pdf": {0: "solo"},
    }


def test_xrefstream_objstm_roundtrip():
    """The PDF 1.5+ layout (xref STREAM with PNG-Up predictor + packed
    /Type /ObjStm objects) round-trips identically to the classic table
    layout, via its PRIMARY decode path and via the scan fallback."""
    pages = ["hello world\nsecond line", "café ü 中文 🙂\n\ntail\n", "", "x (y) \\ z"]
    data = P.pdf_bytes_xrefstream(pages)
    xs = P._xref_stream_load(data)
    assert xs is not None, "xref stream walk must frame the tail"
    offsets, compressed, trailer = xs
    assert compressed, "catalog/pages/font must be type-2 (packed) entries"
    assert isinstance(trailer.get("Root"), P._Ref)
    assert P.extract_pdf_pages(data) == pages
    # damaged tail: the scan fallback must also explode the ObjStm
    assert P.extract_pdf_pages(data.replace(b"startxref", b"startxrEF")) == pages
    # both layouts extract the same text
    assert P.extract_pdf_pages(P.pdf_bytes(pages)) == pages


def test_png_unpredict_filters():
    """All five PNG row filters reverse correctly (bpp=1 — the xref
    stream shape): forward-filter random-ish rows, unfilter, compare."""
    cols = 5
    rows = [bytes((r * 37 + j * 11) % 256 for j in range(cols)) for r in range(6)]
    for ft in range(5):
        filtered = bytearray()
        prev = bytes(cols)
        for row in rows:
            enc = bytearray([ft])
            for j in range(cols):
                a = row[j - 1] if j else 0
                b, c = prev[j], (prev[j - 1] if j else 0)
                if ft == 0:
                    x = row[j]
                elif ft == 1:
                    x = (row[j] - a) & 0xFF
                elif ft == 2:
                    x = (row[j] - b) & 0xFF
                elif ft == 3:
                    x = (row[j] - ((a + b) >> 1)) & 0xFF
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    x = (row[j] - pred) & 0xFF
                enc.append(x)
            filtered += enc
            prev = row
        got = P._png_unpredict(bytes(filtered), cols)
        assert got == b"".join(rows), f"filter type {ft}"


def test_encrypted_pdf_guard():
    """/Encrypt in the trailer means strings/streams are RC4/AES
    obfuscated — strict mode must refuse loudly, skip mode yields no
    pages (never garbage text)."""
    data = P.pdf_bytes(["secret page"])
    enc = data.replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
    )
    with pytest.raises(NotImplementedError, match="Encrypt"):
        P.extract_pdf_pages(enc, errors="strict")
    assert P.extract_pdf_pages(enc) == []
    # unencrypted document is untouched by the probe
    assert P.extract_pdf_pages(data) == ["secret page"]


def test_cid_tounicode_roundtrip():
    """Subset-font layout: show-text is 2-byte glyph codes recoverable
    ONLY through the /ToUnicode CMap — the single most common real-world
    extraction gap. All three CMap constructs (bfchar, incrementing
    bfrange, array bfrange) and /Resources font routing via Tf are on
    the hook; output must equal the classic layout's."""
    pages = ["hello world\nabcdefg consecutive", "café ü 中文 — mixed\n\nxyz"]
    data = P.pdf_bytes_cid(pages)
    assert P.extract_pdf_pages(data) == pages
    assert P.extract_pdf_pages(P.pdf_bytes(pages)) == pages
    # the forge genuinely uses non-character codes: raw BOM-heuristic
    # decoding of the content must NOT reproduce the text
    objects, root = P.load_pdf_objects(data)
    page = next(
        v for v, _ in objects.values()
        if isinstance(v, dict) and str(v.get("Type")) == "Page"
    )
    ref = page["Contents"]
    raw = P.decode_stream(objects[ref.num], objects)
    assert P.content_stream_text(raw) != pages[0], (
        "without the CMap the glyph codes must NOT decode to the text"
    )


def test_parse_cmap_constructs():
    cm = P.parse_cmap(
        b"2 beginbfrange\n<0001> <0003> <0041>\n"
        b"<0010> <0011> [<0058> <0059>]\nendbfrange\n"
        b"1 beginbfchar\n<00ff> <20AC>\nendbfchar"
    )
    assert cm[b"\x00\x01"] == "A" and cm[b"\x00\x03"] == "C"
    assert cm[b"\x00\x10"] == "X" and cm[b"\x00\x11"] == "Y"
    assert cm[b"\x00\xff"] == "€"
    # single-byte codes coexist with two-byte ones; greedy widest-first
    cm2 = {b"\x01": "a", b"\x00\x02": "b"}
    assert P._decode_with_cmap(b"\x01\x00\x02\x01", cm2) == "aba"



def test_tj_kerning_space_heuristic():
    """Large negative TJ adjustments (inter-word gaps real writers emit
    instead of space glyphs) become one space; small typographic kerning
    does not."""
    c = b"BT [(word) -500 (gap)] TJ T* [(ke) -50 (rn)] TJ ET"
    assert P.content_stream_text(c) == "word gap\nkern"


def test_incremental_update_free_entry_shadows_old_offset():
    """§7.5.4 incremental updates: a NEWER xref section's 'f' (free)
    entry must suppress the OLDER section's 'n' offset — an object
    deleted in an update would otherwise be resurrected with stale
    content (round-11 ADVICE)."""
    data = P.pdf_bytes(["stale"])
    xr = P._xref_offsets(data)
    assert xr is not None
    victim = max(xr[0])  # free the highest-numbered live object
    old_xref_at = int(data[data.rfind(b"startxref") + 9 :].split()[0])
    upd = bytearray(data)
    new_xref_at = len(upd)
    upd += (
        f"xref\n{victim} 1\n0000000000 00001 f \n"
        f"trailer\n<< /Size {victim + 1} /Root 1 0 R "
        f"/Prev {old_xref_at} >>\n"
        f"startxref\n{new_xref_at}\n%%EOF"
    ).encode()
    offsets, trailer = P._xref_offsets(bytes(upd))
    assert victim not in offsets, "freed object must not resurrect"
    assert victim in xr[0], "sanity: it WAS live before the update"
    # untouched objects keep their original offsets
    for num, off in offsets.items():
        assert xr[0][num] == off


def test_encrypt_token_in_comment_is_not_encryption():
    """A damaged-tail PDF whose bytes merely CONTAIN '/Encrypt' (e.g. a
    comment) must not be dropped in skip mode: the fallback probe
    requires /Encrypt inside a parsed trailer-like dict (round-11
    ADVICE). A REAL /Encrypt trailer with the same damaged tail must
    still be refused."""
    data = P.pdf_bytes(["survivor"])
    damaged = data.replace(b"startxref", b"startxrEF")
    with_comment = damaged + b"\n% see /Encrypt handling notes\n"
    assert not P._is_encrypted(with_comment)
    assert P.extract_pdf_pages(with_comment) == ["survivor"]
    really_enc = data.replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
    ).replace(b"startxref", b"startxrEF")
    assert P._is_encrypted(really_enc)
    assert P.extract_pdf_pages(really_enc) == []


def test_bfrange_non_bmp_increments_codepoints():
    """Incrementing bfrange with a non-BMP base (UTF-16BE surrogate
    pair): the CODEPOINT increments, never the raw integer — a raw +1
    on <D83EDFFF> (U+1FBFF, low surrogate at its DFFF ceiling) crosses
    the surrogate boundary and lands on garbage (round-11 ADVICE)."""
    cm = P.parse_cmap(b"1 beginbfrange\n<0001> <0003> <D83EDFFF>\nendbfrange")
    assert cm[b"\x00\x01"] == "\U0001FBFF"
    assert cm[b"\x00\x02"] == "\U0001FC00"  # next pair is D83F DC00
    assert cm[b"\x00\x03"] == "\U0001FC01"
    # multi-char destination: only the last code unit increments
    cm2 = P.parse_cmap(b"1 beginbfrange\n<0001> <0002> <00410042>\nendbfrange")
    assert cm2[b"\x00\x01"] == "AB" and cm2[b"\x00\x02"] == "AC"


def test_scanned_pdf_diagnostics_and_routing(spark, tmp_path):
    """Scanned-PDF escape hatch (round-11): image-only pages surface
    n_chars=0 + has_images=true and route_pdf_documents sends the
    document to 'multimodal' — never through text gates as an empty
    string; text docs route 'text', truly blank docs 'empty'."""
    assert P.extract_pdf_page_infos(P.pdf_bytes_scanned(2)) == [
        {"text": "", "has_images": True},
        {"text": "", "has_images": True},
    ]
    (tmp_path / "scan.pdf").write_bytes(P.pdf_bytes_scanned(1))
    (tmp_path / "text.pdf").write_bytes(P.pdf_bytes(["real words"]))
    (tmp_path / "blank.pdf").write_bytes(P.pdf_bytes([""]))
    parsed = P.parse_pdf_blobs(
        spark.read.format("binaryFile").load(str(tmp_path / "*.pdf"))
    )
    routed = {
        r._kpf_source.rsplit("/", 1)[-1]: (r.route, r.n_chars, r.has_images)
        for r in P.route_pdf_documents(parsed).collect()
    }
    assert routed == {
        "scan.pdf": ("multimodal", 0, True),
        "text.pdf": ("text", 10, False),
        "blank.pdf": ("empty", 0, False),
    }


def test_extract_pdf_images_roundtrip_and_codecs():
    """Embedded image XObjects extract with their metadata: Flate raw
    RGB decodes back to the exact forged pixels; a DCT XObject's raw
    stream IS a complete JPEG payload; text PDFs yield none; unsupported
    filters skip (crawl posture) or raise (strict)."""
    px = bytes(range(16)) * 12  # 8x8 RGB = 192 bytes
    blob = P.pdf_bytes_scanned(2, pixels=px, width=8, height=8)
    imgs = P.extract_pdf_images(blob)
    assert [i["page_no"] for i in imgs] == [0, 1]
    for im in imgs:
        assert (im["codec"], im["width"], im["height"], im["bits"]) == (
            "raw", 8, 8, 8,
        )
        assert im["data"] == px and im["color_space"] == "DeviceRGB"
    jm = P.extract_pdf_images(P.pdf_bytes_scanned(1))[0]
    assert jm["codec"] == "jpeg" and jm["data"].startswith(b"\xff\xd8")
    assert P.extract_pdf_images(P.pdf_bytes(["text only"])) == []
    jbig = P.pdf_bytes_scanned(1).replace(b"/DCTDecode", b"/JBIG2Decode")
    assert P.extract_pdf_images(jbig) == []
    with pytest.raises(NotImplementedError, match="JBIG2"):
        P.extract_pdf_images(jbig, errors="strict")


def test_route_pdf_documents_surfaces_unparsed(spark, tmp_path):
    """Zero-page documents (encrypted, hopelessly truncated) must not
    vanish from the router: with the original blob listing they surface
    as route='unparsed' — the quarantine row, never a silent drop."""
    enc = P.pdf_bytes(["secret"]).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
    )
    (tmp_path / "enc.pdf").write_bytes(enc)
    (tmp_path / "ok.pdf").write_bytes(P.pdf_bytes(["fine"]))
    blobs = spark.read.format("binaryFile").load(str(tmp_path / "*.pdf"))
    parsed = P.parse_pdf_blobs(blobs)
    routed = {
        r._kpf_source.rsplit("/", 1)[-1]: r.route
        for r in P.route_pdf_documents(parsed, blobs).collect()
    }
    assert routed == {"enc.pdf": "unparsed", "ok.pdf": "text"}
    # without the listing, only parsed sources appear (documented)
    bare = {
        r._kpf_source.rsplit("/", 1)[-1]
        for r in P.route_pdf_documents(parsed).collect()
    }
    assert bare == {"ok.pdf"}


def test_rc4_blank_user_password_decrypts():
    """Owner-password-only PDFs (blank user password — the common
    restriction case) decrypt through the standard handler's RC4 paths:
    R2 (V1/40-bit), R3 (V2/128-bit), and R4 (V4 crypt filter /CFM /V2).
    The encryptor is the oracle: extraction must equal the plaintext
    forge's, byte for byte."""
    pages = ["Restricted but readable\nline 2", "Page 2: café € ✓"]
    plain = P.extract_pdf_pages(P.pdf_bytes(pages))
    variants = [dict(r=2), dict(r=3), dict(r=4), dict(r=4, aes=True)]
    for kw in variants:
        doc = P.pdf_bytes_encrypted(pages, **kw)
        assert P._is_encrypted(doc)
        assert P.pdf_encryption(doc) == "decryptable", kw
        assert P.extract_pdf_pages(doc) == plain, kw
        infos = P.extract_pdf_page_infos(doc)
        assert [i["text"] for i in infos] == plain


def test_aes256_blank_password_decrypts():
    """V5 (AES-256) blank-password PDFs decrypt: R5 (the deprecated
    AESV3 ExtensionLevel-3 plain-SHA-256 hash) and R6 (PDF 2.0 /
    Acrobat X+ Algorithm 2.B). The encryptor is the oracle; the file
    key unwraps from /UE and is used DIRECTLY per object (no MD5
    salting — the ISO 32000-2 change), and /Perms must sanity-check."""
    pages = ["AES-256 but readable\nline 2", "Page 2: café € ✓"]
    plain = P.extract_pdf_pages(P.pdf_bytes(pages))
    for r in (5, 6):
        doc = P.pdf_bytes_encrypted(pages, r=r)
        assert P._is_encrypted(doc)
        assert P.pdf_encryption(doc) == "decryptable", r
        assert P.extract_pdf_pages(doc) == plain, r


def test_aes256_blank_owner_password_route():
    """When the USER hash misses (real user password) but the blank
    OWNER password validates against /O (udata = the 48-byte /U), the
    key unwraps from /OE — the owner-locked-open case."""
    pages = ["owner-route text"]
    plain = P.extract_pdf_pages(P.pdf_bytes(pages))
    for r in (5, 6):
        doc = P.pdf_bytes_encrypted(
            pages, r=r, owner_pw=b"", user_pw=b"real-user-pw"
        )
        assert P.extract_pdf_pages(doc) == plain, r
    # both passwords real → refusal naming the password gap
    doc = P.pdf_bytes_encrypted(
        pages, r=6, owner_pw=b"real-owner", user_pw=b"real-user"
    )
    with pytest.raises(NotImplementedError, match="password"):
        P.extract_pdf_pages(doc, errors="strict")


def test_hash_2b_round_semantics():
    """Algorithm 2.B pins: ≥64 rounds always run, the SHA-256/384/512
    selector follows sum(E[:16]) % 3, and the result is 32 bytes
    deterministic for (password, salt, udata)."""
    a = P._hash_2b(b"", b"saltsalt")
    b = P._hash_2b(b"", b"saltsalt")
    c = P._hash_2b(b"", b"other-s8")
    assert a == b and a != c and len(a) == 32
    d = P._hash_2b(b"pw", b"saltsalt", b"u" * 48)
    assert d != a and len(d) == 32


def test_aes256_real_password_and_bad_perms_refuse_by_name():
    pages = ["won't decrypt"]
    # a V5 dict whose /U can never validate (stand-in for a real
    # user+owner password): refusal names the password gap
    v5 = P.pdf_bytes_encrypted(pages, v5_marker=True)
    with pytest.raises(NotImplementedError, match="password"):
        P.extract_pdf_pages(v5, errors="strict")
    assert P.extract_pdf_pages(v5) == []  # skip mode: quarantine
    assert "password" in P.pdf_encryption(v5)
    # a corrupted /Perms block fails the 'adb' sanity check by name
    import re as _re

    doc = P.pdf_bytes_encrypted(pages, r=6)
    m = _re.search(rb"/Perms <([0-9a-f]{32})>", doc)
    bad = doc[: m.start(1)] + b"f" * 32 + doc[m.end(1):]
    with pytest.raises(NotImplementedError, match="Perms"):
        P.extract_pdf_pages(bad, errors="strict")
    # an unsupported V5 revision refuses naming the revision
    r7 = _re.sub(rb"/R 6", rb"/R 7", doc)
    with pytest.raises(NotImplementedError, match="R 7"):
        P.extract_pdf_pages(r7, errors="strict")


def test_aes256_fips_vector():
    """FIPS-197 Appendix C.3 (AES-256) + C.1 (AES-128) pin the T-table
    cipher core for both key sizes."""
    key = bytes(range(32))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = P._aes_encrypt_block(pt, P._aes_expand_key(key))
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert P._aes_decrypt_block(ct, P._aes_expand_key(key)) == pt
    k128 = bytes(range(16))
    assert (
        P._aes_encrypt_block(pt, P._aes_expand_key(k128)).hex()
        == "69c4e0d86a7b0430d8cdb78070b4c55a"
    )


def test_real_user_password_refuses_by_name():
    # a real (non-blank) user password: the /U check fails → refusal
    pages = ["won't decrypt"]
    doc = P.pdf_bytes_encrypted(pages, r=3)
    import re as _re

    m = _re.search(rb"/U <([0-9a-f]+)>", doc)
    wrong_u = b"0123456789abcdef" * (len(m.group(1)) // 16)
    flipped = doc[: m.start(1)] + wrong_u + doc[m.end(1):]
    with pytest.raises(NotImplementedError, match="user password"):
        P.extract_pdf_pages(flipped, errors="strict")
    assert P.extract_pdf_pages(flipped) == []
    assert "user password" in P.pdf_encryption(flipped)


def test_rc4_known_vector():
    # public RC4 test vectors (Key/Plaintext from the original
    # cypherpunks posting, reproduced in RFC 6229 era docs)
    assert P._rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert P._rc4(b"Wiki", b"pedia").hex() == "1021bf0420"


def test_rc4_without_native_arc4_uses_pure_fallback(monkeypatch):
    """An OpenSSL build without the legacy provider: the import-time probe
    reports ARC4 unusable and every key length — the 16-byte PDF key
    size included — goes through the pure kernel."""

    def _refuse(*args, **kwargs):
        raise AssertionError("native ARC4 must not be called")

    monkeypatch.setattr(P, "_HAVE_NATIVE_ARC4", False)
    monkeypatch.setattr(P, "_NCipher", _refuse, raising=False)
    assert P._rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert P._rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
    # RFC 6229, 128-bit key 0x0102…10, keystream bytes 0-15
    key = bytes(range(1, 17))
    assert P._rc4(key, bytes(16)).hex() == "9ac7cc9a609d1ef7b2932899cde41b97"


def test_aes128_core_fips_vector_and_cbc():
    """FIPS-197 Appendix C.1 — the independent ground truth for the
    AES-128 cipher core (encryptor and decryptor check each other AND
    the published vector)."""
    key = bytes(range(16))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = P._aes_expand_key(key)
    ct = P._aes_encrypt_block(pt, rk)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert P._aes_decrypt_block(ct, rk) == pt
    data = b"pdf aes cbc framing \xe2\x9c\x93" * 5
    blob = P._aes_cbc_encrypt(key, data, bytes.fromhex("aa" * 16))
    assert P._aes_cbc_decrypt(key, blob) == data
    # corrupt padding quarantines as ValueError, never garbage
    with pytest.raises(ValueError, match="padding|framing"):
        P._aes_cbc_decrypt(key, blob[:-1] + bytes([blob[-1] ^ 1]))


def test_differences_simple_font_roundtrip():
    """Pre-2005 simple-font layout (r14): a Type1 font with NO
    /ToUnicode whose /Encoding patches WinAnsi with a /Differences
    glyph-name remap. The table-driven decode must be lossless and the
    raw byte decode must NOT reproduce the text (the CID pin's twin for
    the /Differences path)."""
    pages = ["hello world\nabc consecutive", "lower case tail\n\nxyz"]
    data = P.pdf_bytes_differences(pages)
    assert P.extract_pdf_pages(data) == pages
    assert P.extract_pdf_pages(P.pdf_bytes(pages)) == pages
    objects, root = P.load_pdf_objects(data)
    page = next(
        v for v, _ in objects.values()
        if isinstance(v, dict) and str(v.get("Type")) == "Page"
    )
    raw = P.decode_stream(objects[page["Contents"].num], objects)
    assert P.content_stream_text(raw) != pages[0], (
        "without the /Differences table the remapped codes must NOT "
        "decode to the text"
    )


def test_glyph_name_resolution_and_base_encodings():
    # explicit AGL subset, single-char fallback, algorithmic forms,
    # unresolvable subset-private names
    assert P.glyph_name_to_char("eacute") == "é"
    assert P.glyph_name_to_char("Euro") == "€"
    assert P.glyph_name_to_char("fi") == "ﬁ"
    assert P.glyph_name_to_char("A") == "A"
    assert P.glyph_name_to_char("uni20AC") == "€"
    assert P.glyph_name_to_char("u1F600") == "😀"
    assert P.glyph_name_to_char("g42") is None
    assert P.glyph_name_to_char("cid007") is None

    win = P._base_encoding_table("WinAnsiEncoding")
    assert win[b"\x80"] == "€" and win[b"\xe9"] == "é"
    assert b"\x81" not in win  # cp1252 undefined code
    mac = P._base_encoding_table("MacRomanEncoding")
    assert mac[b"\x8e"] == "é"
    std = P._base_encoding_table(None)
    assert std[b"'"] == "’" and std[b"`"] == "‘"
    assert std[b"\xae"] == "ﬁ" and std[b"\xa5"] == "¥"  # D.2 high half
    assert std[b"A"] == "A"


def test_simple_font_encoding_map_shapes():
    # name-form /Encoding, dict-form with /Differences, composite
    # fonts and encoding-less fonts stay on their existing paths
    objects: dict = {}
    name_font = {"Subtype": P._Name("Type1"),
                 "Encoding": P._Name("WinAnsiEncoding")}
    m = P.simple_font_encoding_map(name_font, objects)
    assert m is not None and m[b"\x80"] == "€"

    diff_font = {
        "Subtype": P._Name("Type1"),
        "Encoding": {
            "BaseEncoding": P._Name("WinAnsiEncoding"),
            "Differences": [65, P._Name("eacute"), P._Name("g9"),
                            200, P._Name("bullet")],
        },
    }
    m = P.simple_font_encoding_map(diff_font, objects)
    assert m[b"A"] == "é"          # 65 remapped
    assert m[b"B"] == "B"          # g9 unresolvable: base byte survives
    assert m[b"\xc8"] == "•"       # second start code
    assert m[b"C"] == "C"          # untouched codes keep the base

    cid_font = {"Subtype": P._Name("Type0"),
                "Encoding": P._Name("Identity-H")}
    assert P.simple_font_encoding_map(cid_font, objects) is None
    plain = {"Subtype": P._Name("Type1")}
    assert P.simple_font_encoding_map(plain, objects) is None


def test_differences_fixture_handles_typographic_chars():
    """Self-review regression: input characters whose cp1252 byte falls
    in the remapped 0x80-0x99 range (em dash, curly quotes, euro, ...)
    — and characters cp1252 cannot encode at all — must survive the
    /Differences layout losslessly (they show through the second,
    plain font; lowercase still exercises the remap)."""
    pages = ["dash — quote ’ euro € tm ™", "mixed Ω greek and lower abc"]
    data = P.pdf_bytes_differences(pages)
    assert P.extract_pdf_pages(data) == pages
