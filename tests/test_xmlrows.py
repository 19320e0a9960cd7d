"""Attribute-row XML source (the Stack Exchange dump shape)."""

import bz2
import gzip
import io

import pytest

from kusto_pre_forge_spark.sources import blob
from kusto_pre_forge_spark.sources import xmlrows as XR


def _dump(**kw):
    rows = [
        dict(Id=1, PostTypeId=1, Title='Q "quoted" & <tagged>',
             Body="<p>body &amp; prose</p>", Score=-3),
        dict(Id=2, PostTypeId=2, ParentId=1, Body="<p>answer</p>", Score=7),
    ]
    return XR.xml_rows_bytes(rows, **kw)


ATTRS = ["Id", "PostTypeId", "ParentId", "Title", "Body", "Score"]


def _rows(data, attrs, row_tag="row"):
    return list(XR.iter_xml_rows(io.BytesIO(data), attrs, row_tag))


def test_parse_rows_unescape_and_nulls():
    rows = _rows(_dump(), ATTRS)
    assert [r["row_no"] for r in rows] == [0, 1]
    # quoteattr escaping round-trips quotes, ampersands, angle brackets
    assert rows[0]["Title"] == 'Q "quoted" & <tagged>'
    # an ALREADY-escaped entity in the source string stays escaped-once
    assert rows[0]["Body"] == "<p>body &amp; prose</p>"
    assert rows[0]["Score"] == "-3"
    assert rows[0]["ParentId"] is None  # missing attribute -> NULL
    assert rows[1]["ParentId"] == "1"


@pytest.mark.parametrize("comp", [None, "bz2", "gzip"])
def test_compression_peel(comp):
    assert len(_rows(_dump(compress=comp), ATTRS)) == 2


def test_7z_refuses_loudly():
    with pytest.raises(NotImplementedError, match="7z"):
        blob.open_decompressed(io.BytesIO(b"7z\xbc\xaf\x27\x1c junk"))


def test_garbage_quarantines_empty():
    """Garbage raises only errors parse_xml_row_blobs quarantines on
    (the Spark-level zero-row quarantine is pinned below)."""
    for garbage in (b"<posts><row unclosed", b"BZh9 corrupt"):
        with pytest.raises(XR.XML_DECODE_ERRORS):
            _rows(garbage, ATTRS)


def test_custom_row_tag():
    raw = b'<badges><badge UserId="5" Name="Teacher"/></badges>'
    rows = _rows(raw, ["UserId", "Name"], row_tag="badge")
    assert rows == [{"row_no": 0, "UserId": "5", "Name": "Teacher"}]


def test_reads_identical_across_ceiling(spark, tmp_path, monkeypatch):
    d = tmp_path / "se"
    d.mkdir()
    (d / "Posts.xml").write_bytes(_dump())
    (d / "Posts2.xml.bz2").write_bytes(_dump(compress="bz2"))
    (d / "Posts3.xml.gz").write_bytes(_dump(compress="gzip"))
    batch = XR.read_xml_rows(spark, str(d), ATTRS).toPandas()
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    stream = XR.read_xml_rows(spark, str(d), ATTRS).toPandas()
    key = ["_kpf_source", "row_no"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = stream.sort_values(key).reset_index(drop=True)
    assert len(b) == 6
    assert b.equals(s)


def test_worker_side_read_refuses_remote_scheme():
    with pytest.raises(NotImplementedError, match="scheme"):
        blob.worker_local_path("s3://bucket/se/Posts.xml")


@pytest.mark.parametrize("ceiling", [None, 0])
def test_truncated_dump_yields_zero_rows_both_sides(
    spark, tmp_path, monkeypatch, ceiling
):
    """A 3000-row dump cut before its closing tag fails to parse at its
    end: zero rows below the binaryFile ceiling AND above it, where the
    worker-side read must not emit the 1024-row frames it parsed before
    the error."""
    rows = [{"Id": i, "PostTypeId": 1, "Body": f"b{i}"} for i in range(3000)]
    good = XR.xml_rows_bytes(rows)
    (tmp_path / "trunc.xml").write_bytes(good[: good.rfind(b"</posts>") - 4])
    if ceiling is not None:
        monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", ceiling)
    assert XR.read_xml_rows(spark, str(tmp_path), ATTRS).count() == 0


def test_7z_hatch_extracts_inner_xml(monkeypatch):
    """r14: the py7zr import-try hatch — a .7z Stack Exchange dump
    peels to its inner .xml where the wheel is importable (stub pin);
    the loud refusal (test_7z_refuses_loudly) holds where it is not."""
    import io as _io
    import sys
    import types

    xml = b'<posts><row Id="1" PostTypeId="1" /></posts>'

    class _FI:
        filename = "Posts.xml"
        uncompressed = len(xml)
        is_directory = False

    class _SZ:
        def __init__(self, fileobj):
            assert fileobj.read(6) == b"7z\xbc\xaf\x27\x1c"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def list(self):
            return [_FI()]

        def reset(self):
            pass

        def read(self, names):
            return {"Posts.xml": _io.BytesIO(xml)}

    fake = types.ModuleType("py7zr")
    fake.SevenZipFile = _SZ
    monkeypatch.setitem(sys.modules, "py7zr", fake)
    blob = b"7z\xbc\xaf\x27\x1c" + b"\x00" * 16
    rows = _rows(blob, ["Id", "PostTypeId"])
    assert rows == [{"row_no": 0, "Id": "1", "PostTypeId": "1"}]
