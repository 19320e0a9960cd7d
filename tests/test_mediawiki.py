"""MediaWiki dump source + wikitext extraction.

Covers the pure parser (namespace-qualified tags, last-revision-wins,
redirect attributes, compression peel), the Spark read on both sides
of the binaryFile ceiling (pinned row-identical), front-door routing (incl. bz2 peeling of
arbitrary text), and WIKITEXT_RULES unit vectors.
"""

import bz2
import gzip

import pytest

from kusto_pre_forge_spark.sources import autoextract as A
from kusto_pre_forge_spark.sources import blob
from kusto_pre_forge_spark.sources import mediawiki as MW


def _dump(**kw):
    pages = [
        dict(title="Alpha & Beta", ns=0, page_id=11,
             text="'''Bold''' body of [[Alpha]].",
             old_texts=["old rev one", "old rev two"]),
        dict(title="Talk:Alpha", ns=1, page_id=12, text="talk page"),
        dict(title="Redir", ns=0, page_id=13, redirect="Alpha & Beta",
             text="#REDIRECT [[Alpha & Beta]]"),
    ]
    return MW.mediawiki_bytes(pages, **kw)


def test_parse_pages_last_revision_wins_and_redirect():
    rows = MW.parse_mediawiki_pages(_dump())
    assert [r["page_no"] for r in rows] == [0, 1, 2]
    assert rows[0]["title"] == "Alpha & Beta"  # XML unescape roundtrip
    assert rows[0]["text"] == "'''Bold''' body of [[Alpha]]."
    assert rows[0]["redirect"] is None
    assert rows[1]["ns"] == 1
    assert rows[2]["redirect"] == "Alpha & Beta"
    assert rows[2]["page_id"] == 13


@pytest.mark.parametrize("comp", [None, "bz2", "gzip"])
def test_compression_peel(comp):
    rows = MW.parse_mediawiki_pages(_dump(compress=comp))
    assert len(rows) == 3 and rows[0]["text"].startswith("'''Bold'''")


def test_garbage_quarantines_empty():
    assert MW.parse_mediawiki_pages(b"<mediawiki><page><unclosed") == []
    assert MW.parse_mediawiki_pages(b"BZh9 corrupt") == []


def test_is_mediawiki_probe():
    assert MW.is_mediawiki(_dump())
    assert MW.is_mediawiki(b"<mediawiki xmlns='x'>")
    assert not MW.is_mediawiki(b"<html><body>")
    assert not MW.is_mediawiki(b"%PDF-1.4")
    # XML declaration + BOM tolerated
    assert MW.is_mediawiki(b"\xef\xbb\xbf<?xml version=\"1.0\"?>\n<mediawiki>")


def test_reads_identical_across_ceiling(spark, tmp_path, monkeypatch):
    d = tmp_path / "wiki"
    d.mkdir()
    (d / "a.xml").write_bytes(_dump())
    (d / "b.xml.bz2").write_bytes(_dump(compress="bz2"))
    (d / "c.xml.gz").write_bytes(_dump(compress="gzip"))
    batch = MW.read_mediawiki(spark, str(d)).toPandas()
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    stream = MW.read_mediawiki(spark, str(d)).toPandas()
    key = ["_kpf_source", "page_no"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = stream.sort_values(key).reset_index(drop=True)
    assert len(b) == 9
    assert b.equals(s)


def test_worker_side_read_refuses_remote_scheme():
    with pytest.raises(NotImplementedError, match="scheme"):
        blob.worker_local_path("s3://bucket/wiki/a.xml.bz2")


def test_front_door_routes_mediawiki():
    for blob in (_dump(), bz2.compress(_dump()), gzip.compress(_dump())):
        kind, text = A.extract_auto(blob)
        assert kind == "mediawiki"
        assert text.split(A.PAGE_SEP) == [
            "'''Bold''' body of [[Alpha]].",
            "talk page",
            "#REDIRECT [[Alpha & Beta]]",
        ]


def test_front_door_bz2_text_and_guards():
    assert A.extract_auto(bz2.compress(b"plain words")) == (
        "text", "plain words"
    )
    # 'BZh' without a level digit is plain text, not bz2
    assert A.sniff_format(b"BZhello this is text") == "text"
    # corrupt bz2 quarantines, never raises
    assert A.extract_auto(b"BZh9garbage-not-bz2") == ("binary", None)


def test_front_door_tar_bz2_members(tmp_path):
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:bz2") as tf:
        data = b"member text"
        info = tarfile.TarInfo("m.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    rows = A.auto_rows(io.BytesIO(buf.getvalue()))
    assert rows == [("m.txt", "text", "member text")]


WIKI_VECTORS = [
    # (wikitext, expected prose)
    ("{{Infobox|a={{n|1}}|b={{m|{{deep|2}}}}}}done", "done"),
    ("{| class=\"wikitable\"\n|-\n| cell\n|}after", "after"),
    ("[[target|label]] and [[Plain link]]", "label and Plain link"),
    ("[[File:Pic.jpg|thumb|A [[cap|tion]] here]]rest", "rest"),
    ("[http://e.com/x label words] and [http://e.com/y]", "label words and"),
    ("== Head ==\nbody", "Head\nbody"),
    ("'''''both''''' and ''italic''", "both and italic"),
    ("__NOTOC__x", "x"),
    # refs replace with a space so adjacent words never fuse
    ("a<ref name=\"n\">cite</ref>b<ref name=\"m\"/>c", "a b c"),
    ("<math>x^2</math>eq and <nowiki>{{raw}}</nowiki>", "eq and"),
    ("A&nbsp;B &amp; C&ndash;D", "A B & C-D"),
    ("&lt;b&gt; is literal", "<b> is literal"),
    ("* item one\n# item two\n: indented", "item one\nitem two\nindented"),
]


@pytest.mark.parametrize("src,want", WIKI_VECTORS)
def test_wikitext_rules_vectors(spark, src, want):
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators.textprep import wikitext_extract

    df = spark.range(1).select(
        F.col("id").alias("doc_id"), F.lit(src).alias("w")
    )
    got = wikitext_extract(df, "w", "doc_id").collect()[0]["content"]
    assert got == want


def test_wikitext_counts(spark):
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators.textprep import wikitext_extract

    df = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.lit("{{a}} {{b|{{c}}}} [[x]] [[File:y]]").alias("w"),
    )
    row = wikitext_extract(df, "w", "doc_id").collect()[0]
    assert row["n_templates"] == 3  # every '{{' open counts
    assert row["n_wikilinks"] == 2


def test_wikitext_rules_duckdb_parity():
    """Every WIKITEXT_RULES pattern must be RE2-compatible and produce
    the same output in DuckDB as in Python/Java regex over adversarial
    vectors (the engine-shared-rules guarantee the oracle relies on)."""
    import re

    import duckdb

    from kusto_pre_forge_spark.operators.textprep import WIKITEXT_RULES

    con = duckdb.connect()
    for src, _ in WIKI_VECTORS:
        py = src
        for pat, spark_repl, _duck in WIKITEXT_RULES:
            py = re.sub(pat, spark_repl.replace("$1", "\\1"), py)
        expr = "t"
        for pat, _spark, duck_repl in WIKITEXT_RULES:
            p = pat.replace("'", "''")
            r = (
                "chr(10) || chr(10)"
                if duck_repl == "\n\n"
                else "'" + duck_repl.replace("'", "''") + "'"
            )
            expr = f"regexp_replace({expr}, '{p}', {r}, 'g')"
        duck = con.execute(
            f"SELECT trim({expr}) FROM (SELECT ? AS t)", [src]
        ).fetchone()[0]
        assert duck == py.strip(), src


def test_worker_side_quarantines_whole_corrupt_blob(
    spark, tmp_path, monkeypatch
):
    # A dump that decompresses fine for >1024 pages, then hits a parse
    # error, must yield ZERO rows on both sides of the binaryFile
    # ceiling, never a partial prefix.
    d = tmp_path / "wikicorrupt"
    d.mkdir()
    pages = [
        {"title": f"P{i}", "ns": 0, "page_id": i, "text": f"body {i}"}
        for i in range(1, 1301)
    ]
    good = MW.mediawiki_bytes(pages)
    # truncate mid-page-element: well-formed prefix, fatal at the end
    cut = good.rfind(b"<page>")
    corrupt = good[:cut] + b"<page><title>broken"
    (d / "bad.xml").write_bytes(corrupt)
    (d / "ok.xml").write_bytes(MW.mediawiki_bytes(pages[:3]))
    batch = MW.read_mediawiki(spark, str(d)).toPandas()
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    stream = MW.read_mediawiki(spark, str(d)).toPandas()
    assert set(stream["_kpf_source"].unique()) == {
        p for p in batch["_kpf_source"].unique()
    }
    assert not any(stream["_kpf_source"].str.endswith("bad.xml"))
    assert len(stream) == 3 == len(batch)
