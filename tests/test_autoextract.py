"""Format-sniffing auto-extraction (sources/autoextract.py) — the
mixed-dump front door: magic bytes decide, extensions lie."""

import gzip
import io

import pytest

from kusto_pre_forge_spark.sources import autoextract as A
from kusto_pre_forge_spark.sources import docx as D
from kusto_pre_forge_spark.sources import ipynb as N
from kusto_pre_forge_spark.sources import pdf as P
from kusto_pre_forge_spark.sources import warc as W


def _auto_rows(blob):
    """The bundle-aware front door over one blob's bytes."""
    return A.auto_rows(io.BytesIO(blob))


def test_dispatch_matrix():
    cases = [
        (P.pdf_bytes(["p1", "p2"]), "pdf", "p1\x0cp2"),
        (P.pdf_bytes_xrefstream(["modern"]), "pdf", "modern"),
        (D.docx_bytes("doc text\nline"), "docx", "doc text\nline"),
        (N.ipynb_bytes([("code", "x = 1")]), "ipynb", "x = 1"),
        (
            W.write_warc([W.warc_record_bytes("u", b"body text")]),
            "warc",
            "body text",
        ),
        # whole-file gzip: sniff recurses into the member
        (
            gzip.compress(W.write_warc([W.warc_record_bytes("u", b"gz")])),
            "warc",
            "gz",
        ),
        (b"<html><body>raw</body></html>", "html", "<html><body>raw</body></html>"),
        (b"<!DOCTYPE html><p>x</p>", "html", "<!DOCTYPE html><p>x</p>"),
        (b"plain utf8 text", "text", "plain utf8 text"),
        (b"\x00\x01\xff\xfe binary \x80", "binary", None),
        # JSON that is not a notebook falls through to text
        (b'{"not": "a notebook", "cells": 3}', "text", '{"not": "a notebook", "cells": 3}'),
        (b"", "text", ""),
    ]
    for blob, want_kind, want_text in cases:
        kind, text = A.extract_auto(blob)
        assert (kind, text) == (want_kind, want_text), (want_kind, kind)


def test_generic_zip_is_not_docx():
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("data.csv", "a,b\n1,2\n")
    kind, text = A.extract_auto(buf.getvalue())
    assert kind == "zip" and text is None


def test_read_text_auto_spark(spark, tmp_path):
    """End-to-end over a mixed directory with DELIBERATELY WRONG
    extensions — content decides; plan stays a pure map stage."""
    (tmp_path / "a.txt").write_bytes(P.pdf_bytes(["pdf body"]))
    (tmp_path / "b.pdf").write_bytes(D.docx_bytes("docx body"))
    (tmp_path / "c.dat").write_bytes(b"plain body")
    df = A.read_text_auto(spark, str(tmp_path / "*"))
    got = {
        r._kpf_source.rsplit("/", 1)[-1]: (r.kind, r.text)
        for r in df.collect()
    }
    assert got == {
        "a.txt": ("pdf", "pdf body"),
        "b.pdf": ("docx", "docx body"),
        "c.dat": ("text", "plain body"),
    }
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_auto_streaming_landing(spark, tmp_path):
    """A mixed dump dropped into a streaming landing dir: every arriving
    blob is sniffed and extracted through the same pure map stage as the
    batch front door."""
    from kusto_pre_forge_spark.streaming.ingest import StreamingEtl

    land = tmp_path / "auto_landing"
    land.mkdir()
    from kusto_pre_forge_spark.sources import mediawiki as MW
    from kusto_pre_forge_spark.sources import rtf as R

    (land / "one").write_bytes(P.pdf_bytes(["pdf page"]))
    (land / "two").write_bytes(D.docx_bytes("docx body"))
    (land / "three").write_bytes(b"plain text blob")
    (land / "four").write_bytes(R.rtf_bytes("rtf body"))
    (land / "five").write_bytes(
        MW.mediawiki_bytes(
            [dict(title="T", ns=0, page_id=1, text="wiki body")],
            compress="bz2",
        )
    )
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_auto"),
        str(tmp_path / "out_auto"),
        schema=None,
        fmt="auto",
        max_files_per_trigger=1,
    )
    q = (
        etl._source()
        .writeStream.format("memory")
        .queryName("auto_mem")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_auto"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM auto_mem").collect()
    got = {r._kpf_source.rsplit("/", 1)[-1]: (r.kind, r.text) for r in rows}
    assert got == {
        "one": ("pdf", "pdf page"),
        "two": ("docx", "docx body"),
        "three": ("text", "plain text blob"),
        "four": ("rtf", "rtf body"),
        "five": ("mediawiki", "wiki body"),
    }


def test_metadata_heavy_notebook_sniffs_as_ipynb():
    """A notebook whose metadata block (kernelspec + serialized widget
    state) exceeds 4 KiB before "cells" appears must still route to
    ipynb — the sniff probes the whole blob, not a fixed head
    (round-11 ADVICE)."""
    import json

    nb = json.loads(N.ipynb_bytes([("code", "y = 2")]).decode())
    meta = dict(nb.get("metadata") or {})
    meta["widgets"] = {"state": {f"w{i}": {"blob": "x" * 64} for i in range(120)}}
    # serialize with metadata FIRST so "cells" lands past 8 KiB
    payload = (
        '{"metadata": ' + json.dumps(meta)
        + ', "nbformat": 4, "nbformat_minor": 5, "cells": '
        + json.dumps(nb["cells"]) + "}"
    ).encode()
    assert payload.index(b'"cells"') > 8192
    assert A.sniff_format(payload) == "ipynb"
    kind, text = A.extract_auto(payload)
    assert kind == "ipynb" and "y = 2" in text


def _tar_bytes(members, mode="w"):
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def _zip_bytes(members):
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in members:
            z.writestr(name, data)
    return buf.getvalue()


def test_archive_bundles_expand_to_member_rows():
    """tar / tar.gz / tar.xz / generic zip expand to one row per member,
    each member routed back through the sniffing dispatcher (a PDF
    inside a zip extracts AS a pdf); DOCX (a zip that is a document)
    stays whole-blob (round-11 verdict ask #1)."""
    import gzip as _gz
    import lzma

    members = [
        ("a.txt", b"hello"),
        ("sub/b.pdf", P.pdf_bytes(["pdf text"])),
        ("c.bin", b"\x80\x81\xff"),
    ]
    want = [
        ("a.txt", "text", "hello"),
        ("sub/b.pdf", "pdf", "pdf text"),
        ("c.bin", "binary", None),
    ]
    for blob in (
        _tar_bytes(members),
        _gz.compress(_tar_bytes(members)),
        lzma.compress(_tar_bytes(members)),
        _zip_bytes(members),
    ):
        assert _auto_rows(blob) == want
    # DOCX routes whole-blob, single row
    assert _auto_rows(D.docx_bytes("dtext")) == [(None, "docx", "dtext")]
    # nested bundle does NOT recurse — surfaces as its own (zip, None)
    nested = _tar_bytes([("inner.zip", _zip_bytes([("x.txt", b"deep")]))])
    assert _auto_rows(nested) == [("inner.zip", "zip", None)]
    # non-archives still yield exactly one member-None row
    assert _auto_rows(b"plain") == [(None, "text", "plain")]


def test_archive_valves_fail_open_with_sentinel(monkeypatch):
    """Zip-bomb posture: past the member/byte caps the blob yields the
    members UP TO the cap plus one loud archive_truncated sentinel —
    never an error, never a silent total drop."""
    blob = _zip_bytes([(f"m{i}.txt", b"x") for i in range(6)])
    with monkeypatch.context() as m:
        m.setattr(A, "MAX_ARCHIVE_MEMBERS", 3)
        rows = _auto_rows(blob)
    assert rows[:3] == [(f"m{i}.txt", "text", "x") for i in range(3)]
    assert rows[3] == (None, "archive_truncated", None) and len(rows) == 4
    with monkeypatch.context() as m:
        m.setattr(A, "MAX_ARCHIVE_BYTES", 2)
        rows = _auto_rows(blob)
    assert rows[-1] == (None, "archive_truncated", None) and len(rows) == 3
    tar = _tar_bytes([(f"t{i}", b"yy") for i in range(4)])
    monkeypatch.setattr(A, "MAX_ARCHIVE_MEMBERS", 2)
    rows = _auto_rows(tar)
    assert len(rows) == 3 and rows[-1] == (None, "archive_truncated", None)


def test_archive_members_spark_source_bang_convention(spark, tmp_path):
    """Spark layer: member rows carry _kpf_source = "<blob>!<member>"
    (the Hadoop archive-URI convention); plain blobs keep the bare
    path; the plan stays a pure map stage."""
    import gzip as _gz

    (tmp_path / "bundle.dat").write_bytes(
        _gz.compress(
            _tar_bytes([("one.txt", b"first"), ("two.txt", b"second")])
        )
    )
    (tmp_path / "plain.txt").write_bytes(b"loose")
    df = A.read_text_auto(spark, str(tmp_path / "*"))
    got = {
        r._kpf_source.rsplit("/", 1)[-1]: (r.kind, r.text) for r in df.collect()
    }
    assert got == {
        "bundle.dat!one.txt": ("text", "first"),
        "bundle.dat!two.txt": ("text", "second"),
        "plain.txt": ("text", "loose"),
    }
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_archive_streaming_landing(spark, tmp_path):
    """A tar.gz bundle dropped into a fmt="auto" streaming landing dir
    expands to member rows through the same pure map stage."""
    import gzip as _gz

    from kusto_pre_forge_spark.streaming.ingest import StreamingEtl

    land = tmp_path / "arch_landing"
    land.mkdir()
    (land / "drop").write_bytes(
        _gz.compress(_tar_bytes([("m1", b"alpha"), ("m2", b"beta")]))
    )
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_arch"),
        str(tmp_path / "out_arch"),
        schema=None,
        fmt="auto",
    )
    q = (
        etl._source()
        .writeStream.format("memory")
        .queryName("arch_mem")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_arch"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from arch_mem").collect()
    got = sorted((r._kpf_source.split("!")[-1], r.text) for r in rows)
    assert got == [("m1", "alpha"), ("m2", "beta")]


def test_read_text_auto_identical_across_ceiling(spark, tmp_path, monkeypatch):
    """The >2 GiB path: above the ceiling (forced by patching it to 0)
    read_text_auto opens each blob inside the worker — tar members
    streamed one at a time via tarfile pipe mode, zip via the seekable
    reader — and must return EXACTLY the binaryFile side's rows on a
    mixed dir of tar.gz + zip + pdf + text blobs."""
    import gzip as _gz

    from kusto_pre_forge_spark.sources import blob

    (tmp_path / "bundle.tgz").write_bytes(
        _gz.compress(
            _tar_bytes(
                [("a.txt", b"alpha"), ("b.pdf", P.pdf_bytes(["pdf body"]))]
            )
        )
    )
    (tmp_path / "pack.zip").write_bytes(
        _zip_bytes([("x.txt", b"xray"), ("y.bin", b"\x80\x81")])
    )
    (tmp_path / "doc.pdf").write_bytes(P.pdf_bytes(["loose pdf"]))
    (tmp_path / "plain.txt").write_bytes(b"loose text")
    (tmp_path / "word.docx").write_bytes(D.docx_bytes("docx body"))

    def rows(df):
        return sorted(
            (r._kpf_source.rsplit("/", 1)[-1], r.kind, r.text)
            for r in df.collect()
        )

    mem = rows(A.read_text_auto(spark, str(tmp_path / "*")))
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    st = rows(A.read_text_auto(spark, str(tmp_path / "*")))
    assert st == mem and len(mem) == 7
    assert ("bundle.tgz!b.pdf", "pdf", "pdf body") in mem


@pytest.mark.parametrize("ceiling", [None, 0])
def test_tar_valves_match_inmemory(spark, tmp_path, monkeypatch, ceiling):
    """Valve sentinel parity between the Spark read (both sides of the
    binaryFile ceiling) and the pure front door, at the real member
    valve: the workers read MAX_ARCHIVE_MEMBERS in their own processes,
    so a driver-side patch of it would not reach them."""
    from kusto_pre_forge_spark.sources import blob

    n = A.MAX_ARCHIVE_MEMBERS + 2
    blob_bytes = _tar_bytes([(f"m{i}.txt", b"data") for i in range(n)])
    (tmp_path / "big.tar").write_bytes(blob_bytes)
    if ceiling is not None:
        monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", ceiling)
    got = sorted(
        (
            r._kpf_source.split("!")[-1]
            if "!" in r._kpf_source
            else r._kpf_source.rsplit("/", 1)[-1],
            r.kind,
        )
        for r in A.read_text_auto(spark, str(tmp_path / "big.tar")).collect()
    )
    want = sorted(
        (m if m else "big.tar", k) for m, k, _ in _auto_rows(blob_bytes)
    )
    assert got == want and len(got) == A.MAX_ARCHIVE_MEMBERS + 1
    assert ("big.tar", "archive_truncated") in got


def _corrupt_docx_bytes():
    """A DOCX whose stored word/document.xml fails its CRC on read."""
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr("word/document.xml", "<w:p><w:t>hello</w:t></w:p>")
    return buf.getvalue().replace(b"hello", b"jello", 1)


@pytest.mark.parametrize("ceiling", [None, 0])
def test_corrupt_member_keeps_bundle_rows(spark, tmp_path, monkeypatch, ceiling):
    """A member that fails to decode quarantines as its own
    (member, 'binary', None) row; the good members of the same bundle
    keep theirs, on both sides of the binaryFile ceiling."""
    import zipfile

    from kusto_pre_forge_spark.sources import blob

    bad = _corrupt_docx_bytes()
    with pytest.raises(zipfile.BadZipFile):
        A.extract_auto(bad)
    members = [("a.txt", b"first"), ("b.docx", bad), ("c.txt", b"last")]
    want = [
        ("a.txt", "text", "first"),
        ("b.docx", "binary", None),
        ("c.txt", "text", "last"),
    ]
    for bundle in (_tar_bytes(members), gzip.compress(_tar_bytes(members))):
        assert _auto_rows(bundle) == want
    (tmp_path / "bundle.tar.gz").write_bytes(gzip.compress(_tar_bytes(members)))
    if ceiling is not None:
        monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", ceiling)
    got = sorted(
        (r._kpf_source.split("!")[-1], r.kind, r.text)
        for r in A.read_text_auto(spark, str(tmp_path / "bundle.tar.gz")).collect()
    )
    assert got == want


def test_mbox_sniff_two_signal():
    """mbox routes only on From_-at-0 PLUS a real header; prose that
    merely starts with 'From ' stays text."""
    from kusto_pre_forge_spark.sources import mail as M

    mb = M.mbox_bytes(
        [{"subject": "s", "from_addr": "a@b.c", "date": "", "body": "one"},
         {"subject": "t", "from_addr": "a@b.c", "date": "", "body": "two"}]
    )
    assert A.sniff_format(mb) == "mbox"
    kind, text = A.extract_auto(mb)
    assert kind == "mbox" and text == "one\x0ctwo"
    prose = b"From Berlin with love\nit was a dark night\n"
    assert A.sniff_format(prose) == "text"
    assert A.extract_auto(prose)[0] == "text"


def test_subtitle_sniff_two_signal():
    """SRT needs a digit first line AND a cue arrow; VTT by magic; a
    numbered plain-text list stays text."""
    from kusto_pre_forge_spark.sources import subtitles as SB

    srt = SB.srt_bytes([(0, 1000, "hello"), (1000, 2000, "there")])
    assert A.sniff_format(srt) == "srt"
    assert A.extract_auto(srt) == ("srt", "hello\x0cthere")
    vtt = SB.vtt_bytes([(0, 500, "cap")])
    assert A.sniff_format(vtt) == "vtt"
    assert A.extract_auto(vtt) == ("vtt", "cap")
    listy = b"1\nfirst item\n2\nsecond item\n"
    assert A.sniff_format(listy) == "text"


def test_columnar_formats_tag_not_binary():
    """parquet/orc/avro/7z blobs in a mixed dump tag their real format
    (route to the real readers) instead of hiding as 'binary'."""
    from kusto_pre_forge_spark.sources.autoextract import (
        extract_auto,
        sniff_format,
    )

    assert sniff_format(b"PAR1\x15\x00\x15") == "parquet"
    assert sniff_format(b"ORC\x00postscript") == "orc"
    assert sniff_format(b"Obj\x01\x02schema") == "avro"
    assert sniff_format(b"7z\xbc\xaf\x27\x1c\x00") == "7z"
    for blob in (b"PAR1xx", b"ORC\x00", b"Obj\x01x", b"7z\xbc\xaf\x27\x1cx"):
        kind, text = extract_auto(blob)
        assert text is None and kind not in ("binary", "text"), (blob, kind)
    # real columnar bytes still tag through the rows front door
    assert _auto_rows(b"PAR1 body") == [(None, "parquet", None)]


def test_zstd_tags_not_binary():
    from kusto_pre_forge_spark.sources.autoextract import (
        extract_auto,
        sniff_format,
        zstd_available,
    )

    blob = b"\x28\xb5\x2f\xfd\x00\x00frame"
    assert sniff_format(blob) == "zstd"
    if zstd_available():
        # wheel present: a CORRUPT frame quarantines as binary (the
        # peel catch), never raises
        assert extract_auto(blob) == ("binary", None)
    else:
        # wheel absent: tag-only routing, never silently 'binary'
        assert extract_auto(blob) == ("zstd", None)


def test_zstd_front_door_peel_when_wheel_present():
    """Env-gated (the pyav convention): where `pip install zstandard`
    happened, .jsonl.zst / .txt.zst blobs peel through the front door
    exactly like gzip — inner format sniffed and extracted."""
    import pytest as _pt

    from kusto_pre_forge_spark.sources import autoextract as A

    if not A.zstd_available():
        _pt.skip("zstandard not installed in this environment")
    import zstandard

    inner = b'{"text": "dolma-style record"}\n' * 3
    blob = zstandard.ZstdCompressor().compress(inner)
    assert A.sniff_format(blob) == "zstd"
    kind, text = A.extract_auto(blob)
    assert kind == "text" and "dolma-style" in text
    # valve: a frame decompressing past MAX_ARCHIVE_BYTES quarantines
    rows = _auto_rows(blob)
    assert rows == [(None, "text", inner.decode())]


def _forge_tar(members: dict[str, bytes]) -> bytes:
    import io
    import tarfile as _tf

    buf = io.BytesIO()
    with _tf.open(fileobj=buf, mode="w") as tf:
        for name, data in members.items():
            info = _tf.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_tar_zst_member_streaming_routing(monkeypatch, tmp_path):
    """The .tar.zst member-streaming ROUTE, pinned without the wheel: a
    stub ``zstandard`` whose stream_reader is a passthrough past the
    4-byte magic stands in for the codec, and iter_archive_members
    yields the tar's members one at a time through the pipe."""
    import sys
    import types

    from kusto_pre_forge_spark.sources import autoextract as A

    tar = _forge_tar({"a.txt": b"alpha", "b/b.txt": b"beta " * 10})
    blob = b"\x28\xb5\x2f\xfd" + tar
    p = tmp_path / "bundle.tar.zst"
    p.write_bytes(blob)

    class _Reader:
        def __init__(self, fh):
            assert fh.read(4) == b"\x28\xb5\x2f\xfd"
            self._fh = fh

        def read(self, n=-1):
            return self._fh.read(n)

        def close(self):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class _Dctx:
        def stream_reader(self, fh, read_across_frames=True):
            return _Reader(fh)

    fake = types.ModuleType("zstandard")
    fake.ZstdDecompressor = _Dctx
    fake.ZstdError = type("ZstdError", (Exception,), {})
    monkeypatch.setitem(sys.modules, "zstandard", fake)

    with open(p, "rb") as f:
        got = list(A.iter_archive_members(f, "tar"))
    assert got == [("a.txt", b"alpha"), ("b/b.txt", b"beta " * 10)]
    # a corrupt pipe (reader raising the codec error) quarantines as
    # ValueError through _ZstdTarPipe, not a third-party type
    class _Bad(_Reader):
        def read(self, n=-1):
            raise fake.ZstdError("boom")

    class _BadDctx:
        def stream_reader(self, fh, read_across_frames=True):
            fh.read(4)
            return _Bad.__new__(_Bad)

    fake.ZstdDecompressor = _BadDctx
    import pytest as _pt

    pipe = A._ZstdTarPipe(open(p, "rb"))
    with _pt.raises(ValueError, match="zstd decode failed"):
        pipe.read(16)


def test_tar_zst_stream_equals_in_memory_when_wheel_present(
    spark, tmp_path, monkeypatch
):
    """Env-gated: where the real zstandard wheel is importable, a
    forged .tar.zst read above the binaryFile ceiling streams with rows
    IDENTICAL to the in-memory front door on the same bytes."""
    import pytest as _pt

    from kusto_pre_forge_spark.sources import autoextract as A

    if not A.zstd_available():
        _pt.skip("zstandard not installed in this environment")
    import zstandard

    tar = _forge_tar({"x.txt": b"hello zstd", "y.json": b'{"k": 1}'})
    blob = zstandard.ZstdCompressor().compress(tar)
    p = tmp_path / "bundle.tar.zst"
    p.write_bytes(blob)
    from kusto_pre_forge_spark.sources import blob as B

    monkeypatch.setattr(B, "BINARYFILE_MAX_BYTES", 0)
    streamed = sorted(
        (r._kpf_source.split("!")[-1], r.kind, r.text)
        for r in A.read_text_auto(spark, str(p)).collect()
    )
    in_mem = sorted(
        (m, k, t) for m, k, t in _auto_rows(blob)
    )
    assert [(m, k, t) for m, k, t in streamed] == in_mem
    assert len(streamed) == 2


def test_zstd_multiframe_decodes_whole_when_wheel_present():
    """Env-gated: a MULTI-FRAME zstd blob (how seekable-zstd and
    per-record corpora actually ship) decodes across frame boundaries
    — both frames' content, not first-frame-only."""
    import pytest as _pt

    from kusto_pre_forge_spark.sources import autoextract as A

    if not A.zstd_available():
        _pt.skip("zstandard not installed in this environment")
    import zstandard

    c = zstandard.ZstdCompressor()
    blob = c.compress(b"frame-one\n") + c.compress(b"frame-two\n")
    assert A._zstd_decompress(blob) == b"frame-one\nframe-two\n"
    kind, text = A.extract_auto(blob)
    assert kind == "text" and "frame-two" in text


def test_zstd_magic_prefix_fuzz_total():
    """Quarantine fuzz extended to the zstd magic: arbitrary bytes after
    the frame magic must never raise from the front door, whether the
    wheel is present (decode errors → ValueError → quarantine) or not
    (tag-only)."""
    import random

    from kusto_pre_forge_spark.sources.autoextract import extract_auto

    rng = random.Random(0x5D)
    for n in (0, 1, 7, 64, 513):
        blob = b"\x28\xb5\x2f\xfd" + bytes(
            rng.randrange(256) for _ in range(n)
        )
        kind, text = extract_auto(blob)
        assert kind in ("zstd", "binary")
        rows = _auto_rows(blob)
        assert rows[0][1] in ("zstd", "binary")


def test_front_door_is_total_on_arbitrary_bytes():
    """Quarantine posture, pinned: the front door NEVER raises — a
    corrupt blob in a 100 TB dump must not fail the task holding ten
    thousand good ones. Hypothesis drives arbitrary bytes, then a
    seeded sweep prepends every magic prefix so each real parser's
    error path is exercised (this fuzz found truncated-gzip EOFError,
    corrupt-deflate zlib.error, and truncated-bz2 ValueError escaping
    the peel catches — all quarantined now)."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kusto_pre_forge_spark.sources import mediawiki as MW
    from kusto_pre_forge_spark.sources import warc as W
    from kusto_pre_forge_spark.sources import xmlrows as XR

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=1024))
    def arbitrary(blob):
        kind, _ = A.extract_auto(blob)
        assert isinstance(kind, str)
        assert _auto_rows(blob)

    arbitrary()

    prefixes = [
        b"\x1f\x8b", b"BZh9", b"\xfd7zXZ\x00", b"%PDF-", b"PK\x03\x04",
        b"WARC/1.1\r\n", b"{\\rtf1", b"<mediawiki>", b'{"cells"',
        b"From x\nFrom: y\n", b"WEBVTT", b"1\n00:00:00,000 --> 99",
        b"Obj\x01", b"ustar", b"<posts>",
    ]
    rng = random.Random(7)
    for p in prefixes:
        for _ in range(60):
            blob = p + bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 300))
            )
            A.extract_auto(blob)
            _auto_rows(blob)
            W.records_to_rows("p", blob, ("response",))
            MW.parse_mediawiki_pages(blob)
            try:
                list(XR.iter_xml_rows(io.BytesIO(blob), ["Id"]))
            except XR.XML_DECODE_ERRORS:
                pass


def _fake_py7zr(monkeypatch, members):
    """Install a stub ``py7zr`` module (the stub-av convention): pins
    the 7z bundle ROUTING in every environment; the real-wheel twin is
    env-gated below."""
    import io as _io
    import sys
    import types

    class _FI:
        def __init__(self, name, size):
            self.filename = name
            self.uncompressed = size
            self.is_directory = False

    class _SZ:
        def __init__(self, fileobj):
            self._data = fileobj.read()
            assert self._data[:6] == b"7z\xbc\xaf\x27\x1c"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def list(self):
            return [_FI(n, len(b)) for n, b in members.items()]

        def reset(self):
            pass

        def read(self, names):
            return {n: _io.BytesIO(members[n]) for n in names}

    fake = types.ModuleType("py7zr")
    fake.SevenZipFile = _SZ
    monkeypatch.setitem(sys.modules, "py7zr", fake)


def test_7z_bundle_routes_through_py7zr_stub(monkeypatch):
    """With an importable py7zr, a .7z blob expands member-at-a-time
    through the SAME dispatcher rows tar/zip use; valves intact."""
    members = {
        "readme.txt": b"hello from the archive",
        "Posts.xml": b'<posts><row Id="1" /></posts>',
    }
    _fake_py7zr(monkeypatch, members)
    blob = b"7z\xbc\xaf\x27\x1c" + b"\x00" * 32
    rows = _auto_rows(blob)
    got = {m: (k, t) for m, k, t in rows}
    assert got["readme.txt"] == ("text", "hello from the archive")
    assert got["Posts.xml"][0] in ("text", "html")  # xml routes as text
    # valves: a member past the byte cap clips with the loud sentinel
    big = {"big.bin": b"x" * 10}
    _fake_py7zr(monkeypatch, big)
    monkeypatch.setattr(A, "MAX_ARCHIVE_BYTES", 5)
    rows = _auto_rows(blob)
    assert rows[-1][1] == "archive_truncated"


def test_7z_without_wheel_stays_tag_only():
    if A.py7zr_available():
        import pytest

        pytest.skip("py7zr present: tag-only path unreachable")
    blob = b"7z\xbc\xaf\x27\x1c" + b"\x00" * 32
    assert A.extract_auto(blob) == ("7z", None)
    assert _auto_rows(blob) == [(None, "7z", None)]


def test_7z_real_wheel_roundtrip(tmp_path):
    """Env-gated twin: where the real py7zr wheel is present, a forged
    archive extracts its members byte-exactly."""
    import pytest

    if not A.py7zr_available():
        pytest.skip("py7zr absent (expected in this container)")
    import io
    import py7zr

    buf = io.BytesIO()
    with py7zr.SevenZipFile(buf, "w") as z:
        z.writestr("a.txt", "alpha")
        z.writestr("b/Posts.xml", '<posts><row Id="7" /></posts>')
    rows = _auto_rows(buf.getvalue())
    got = {m: (k, t) for m, k, t in rows}
    assert got["a.txt"] == ("text", "alpha")
