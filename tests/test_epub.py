"""EPUB source (sources/epub.py): OCF sniff, spine-order resolution,
repair posture, the Spark layer, and front-door routing."""

import io

from kusto_pre_forge_spark.sources import epub as E


def test_epub_roundtrip_spine_order():
    """The forge writes members in REVERSED name order vs the spine —
    extraction must follow the spine (reading order), not member
    names."""
    chapters = ["chapter one <unescaped & raw>", "chapter two", "chapter three"]
    data = E.epub_bytes(chapters)
    assert E.is_epub(data)
    got = E.extract_epub_chapters(data)
    assert [h for h, _ in got] == [
        "text/part2.xhtml", "text/part1.xhtml", "text/part0.xhtml",
    ]
    for (_, html), body in zip(got, chapters):
        assert html == (
            "<?xml version='1.0'?><html><body>" + body + "</body></html>"
        )


def test_epub_repair_posture_and_negatives():
    import io
    import zipfile

    # no container/OPF: every content doc in name order
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("mimetype", "application/epub+zip")
        z.writestr("b.xhtml", "<html>two</html>")
        z.writestr("a.xhtml", "<html>one</html>")
    got = E.extract_epub_chapters(buf.getvalue())
    assert [h for h, _ in got] == ["a.xhtml", "b.xhtml"]
    # not a zip at all
    assert E.extract_epub_chapters(b"not a zip") == []
    # a zip that is not an epub
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as z:
        z.writestr("data.csv", "a,b")
    assert not E.is_epub(buf2.getvalue())


def test_epub_spark_layer_and_front_door(spark, tmp_path, monkeypatch):
    from kusto_pre_forge_spark.sources import autoextract as A
    from kusto_pre_forge_spark.sources import blob

    (tmp_path / "book.bin").write_bytes(E.epub_bytes(["c1", "c2"]))
    rows = sorted(
        (r.chapter_no, r.href)
        for r in E.read_epub(spark, str(tmp_path / "*.bin")).collect()
    )
    assert rows == [(0, "text/part1.xhtml"), (1, "text/part0.xhtml")]
    # front door: sniffed as a DOCUMENT (never member-expanded)
    kind, text = A.extract_auto(E.epub_bytes(["c1", "c2"]))
    assert kind == "epub" and "c1" in text and "\x0c" in text
    rows = A.auto_rows(io.BytesIO(E.epub_bytes(["c1"])))
    assert len(rows) == 1 and rows[0][0] is None and rows[0][1] == "epub"
    # the worker-side read (above the binaryFile ceiling) agrees
    mem = {
        (r.kind, r.text)
        for r in A.read_text_auto(spark, str(tmp_path / "*.bin")).collect()
    }
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    got = {
        (r.kind, r.text)
        for r in A.read_text_auto(spark, str(tmp_path / "*.bin")).collect()
    }
    assert got == mem and next(iter(got))[0] == "epub"
