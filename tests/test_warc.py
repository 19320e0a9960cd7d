"""WARC source: record framing, gzip members, HTTP payload extraction."""

import gzip
import io

import pytest

from pyspark.sql import functions as F

from kusto_pre_forge_spark.sources import blob
from kusto_pre_forge_spark.sources import warc as W


def _records(raw: bytes):
    return list(W.iter_warc_records_from(io.BytesIO(raw)))


def _fixture_records():
    return [
        W.warc_record_bytes(
            "meta:warcinfo", b"software: kpf-test", warc_type="warcinfo"
        ),
        W.warc_record_bytes(
            "https://example.com/a",
            b"<html><body><p>alpha page body</p></body></html>",
            date="2024-03-01T12:00:00Z",
        ),
        W.warc_record_bytes(
            "https://example.com/b",
            "unicode éü body".encode(),
            date="2024-03-01T12:00:05Z",
        ),
        W.warc_record_bytes(
            "https://example.com/a", b"GET /a HTTP/1.1", warc_type="request"
        ),
    ]


def test_iter_warc_records_framing():
    raw = W.write_warc(_fixture_records())
    recs = _records(raw)
    assert [h["warc-type"] for h, _ in recs] == [
        "warcinfo", "response", "response", "request",
    ]
    # Content-Length framing exact: payload of record 2 round-trips
    status, headers, body = W.parse_http_response(recs[1][1])
    assert status == 200
    assert headers["content-type"].startswith("text/html")
    assert body == b"<html><body><p>alpha page body</p></body></html>"


def test_warc_stray_bytes_and_truncation():
    rs = _fixture_records()
    raw = b"JUNK" + rs[1] + b"garbage between" + rs[2]
    got = _records(raw)
    assert len(got) == 2
    # truncated tail record is dropped, completed ones survive
    trunc = W.write_warc([rs[1]]) + rs[2][: len(rs[2]) // 2]
    got2 = _records(trunc)
    assert len(got2) == 1


def test_http_chunked_dechunk():
    body = b"7\r\nchunk-a\r\n8\r\n chunk-b\r\n0\r\n\r\n"
    block = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + body
    )
    status, _, out = W.parse_http_response(block)
    assert status == 200 and out == b"chunk-a chunk-b"
    # malformed chunk sizes fall back to raw bytes, never raise
    bad = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nx"
    _, _, raw = W.parse_http_response(bad)
    assert raw == b"zz\r\nx"


def test_read_warc_plain_and_gzip(spark, tmp_path):
    """File-level read: .warc plain, .warc.gz with one gzip member per
    record (Common Crawl convention), and whole-file gzip all parse to
    the same rows; default filter keeps only response records."""
    rs = _fixture_records()
    (tmp_path / "a.warc").write_bytes(W.write_warc(rs))
    (tmp_path / "b.warc.gz").write_bytes(W.write_warc(rs, gzip_per_record=True))
    (tmp_path / "c.warc.gz").write_bytes(gzip.compress(W.write_warc(rs)))

    df = W.read_warc(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 6  # 2 responses × 3 files
    assert {r.warc_type for r in rows} == {"response"}
    by_uri = {}
    for r in rows:
        by_uri.setdefault(r.target_uri, []).append(r)
    assert len(by_uri["https://example.com/a"]) == 3
    a = by_uri["https://example.com/a"][0]
    assert a.http_status == 200
    assert a.payload_text == "<html><body><p>alpha page body</p></body></html>"
    assert a.warc_date.isoformat().startswith("2024-03-01T12:00:00")
    b = by_uri["https://example.com/b"][0]
    assert "éü" in b.payload_text

    # record_types=None keeps everything, including warcinfo/request
    all_df = W.read_warc(spark, str(tmp_path / "a.warc"), record_types=None)
    assert all_df.count() == 4

    # plan posture: pure map stage — no exchange anywhere
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_warc_composes_with_html_extract(spark, tmp_path):
    """The crawl→text pipeline: WARC response payloads feed
    html_extract directly; chrome dropped, body kept."""
    from kusto_pre_forge_spark.operators import textprep as tp

    page = (
        b"<html><head><script>x()</script></head><body>"
        b'<nav><a href="/">Home</a></nav>'
        b"<p>six plain words of body text here</p></body></html>"
    )
    (tmp_path / "x.warc").write_bytes(
        W.write_warc([W.warc_record_bytes("https://e.com/x", page)])
    )
    df = W.read_warc(spark, str(tmp_path / "x.warc"))
    out = tp.html_extract(
        df.select(F.col("target_uri"), F.col("payload_text").alias("html")),
        "html",
        "target_uri",
    ).first()
    assert out.content == "six plain words of body text here"
    assert out.n_kept == 1


def test_warc_streaming_landing(spark, tmp_path):
    """WARC blobs dropped into a streaming landing dir parse through the
    same pure map stage as the batch reader (binaryFile is a
    streaming-capable source)."""
    from kusto_pre_forge_spark.streaming.ingest import StreamingEtl

    land = tmp_path / "warc_landing"
    land.mkdir()
    for i, gz in enumerate((False, True)):
        name = f"crawl{i}.warc" + (".gz" if gz else "")
        (land / name).write_bytes(W.write_warc(_fixture_records(), gz))
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_warc"),
        str(tmp_path / "out_warc"),
        schema=None,
        fmt="warc",
        max_files_per_trigger=1,
    )
    q = (
        etl._source()
        .writeStream.format("memory")
        .queryName("warc_mem")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_warc"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM warc_mem").collect()
    assert len(rows) == 4  # 2 responses x 2 files
    assert {r.warc_type for r in rows} == {"response"}
    assert all(r._kpf_source for r in rows)


def test_iter_warc_records_from_chunk_seams():
    """The iterator must make the same framing decisions at every chunk
    size — skipping stray padding between records and dropping a
    truncated tail — as on the clean records alone (tiny chunk_size
    stresses every boundary)."""
    rs = _fixture_records()
    raw = (
        b"JUNKPAD" + rs[0] + b"\x00\x00garbage" + rs[1] + rs[2][: len(rs[2]) // 2]
    )
    want = _records(rs[0] + rs[1])
    assert len(want) == 2
    for chunk in (1, 3, 7, 64, 1 << 20):
        got = list(W.iter_warc_records_from(io.BytesIO(raw), chunk_size=chunk))
        assert got == want, f"chunk_size={chunk}"


def test_read_warc_rows_identical_across_ceiling(spark, tmp_path, monkeypatch):
    """Above the binaryFile ceiling (forced by patching it to 0) the
    worker-side read must return the same rows as the binaryFile path on
    the same files — plain AND gzip-member."""
    rs = _fixture_records()
    (tmp_path / "a.warc").write_bytes(W.write_warc(rs))
    (tmp_path / "b.warc.gz").write_bytes(W.write_warc(rs, gzip_per_record=True))
    glob = str(tmp_path / "*.warc*")

    def key(r):
        return (r._kpf_source, r.record_id, r.target_uri)

    mem = sorted(W.read_warc(spark, glob).collect(), key=key)
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    worker = W.read_warc(spark, glob)
    st = sorted(worker.collect(), key=key)
    assert len(mem) == len(st) and len(mem) > 0
    for a, b in zip(mem, st):
        assert a.asDict() == b.asDict()
    # the worker-side plan stays a pure map stage over paths
    plan = worker._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_stream_large_archive_bounded_memory(tmp_path):
    """A multi-hundred-MB archive streams through the pure iterator
    without whole-file materialization: peak extra memory is one record
    + one chunk. Bodies are repetitive so the forge is fast; the point
    is the framing at scale, not the compression."""
    body = (b"lorem ipsum dolor sit amet " * 40)[:1000]
    n = 250_000  # ~256 MB of decompressed records
    path = tmp_path / "big.warc"
    with open(path, "wb") as f:
        for i in range(n):
            f.write(W.warc_record_bytes(f"https://example.com/{i}", body))
    assert path.stat().st_size > 250 * 1024 * 1024
    count = 0
    first = last = None
    with open(path, "rb") as f:
        for headers, block in W.iter_warc_records_from(f):
            if count == 0:
                first = headers["warc-target-uri"]
            last = headers["warc-target-uri"]
            count += 1
    assert count == n
    assert first == "https://example.com/0"
    assert last == f"https://example.com/{n - 1}"


def test_read_warc_above_ceiling_same_rows(spark, tmp_path, monkeypatch):
    """Past the binaryFile per-blob ceiling the reader switches to the
    worker-side read instead of refusing: the same rows, no error."""
    (tmp_path / "a.warc").write_bytes(W.write_warc(_fixture_records()))
    glob = str(tmp_path / "*.warc")

    def rows():
        return sorted(
            (r.asDict() for r in W.read_warc(spark, glob).collect()),
            key=lambda r: r["record_id"],
        )

    below = rows()
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 10)
    assert rows() == below and len(below) == 2


def test_worker_side_read_refuses_remote_schemes():
    """The worker-side read opens files with the worker's own
    filesystem; a bare remote scheme must refuse with the workaround
    named, not surface a FileNotFoundError from open()."""
    with pytest.raises(NotImplementedError, match="s3"):
        blob.worker_local_path("s3://bucket/archive.warc.gz")
    assert blob.worker_local_path("file:/x/a.warc") == "/x/a.warc"
    assert blob.worker_local_path("file:///x/a.warc") == "/x/a.warc"


@pytest.mark.parametrize("ceiling", [None, 0])
def test_corrupt_gzip_member_quarantines_both_sides(
    spark, tmp_path, monkeypatch, ceiling
):
    """Three records, one gzip member each, the last member's deflate
    data corrupted: the blob yields zero rows — and the task does not
    fail — below the ceiling and above it (worker-side read)."""
    members = [
        gzip.compress(r, compresslevel=1) for r in _fixture_records()[:3]
    ]
    last = bytearray(members[-1])
    mid = len(last) // 2
    last[mid : mid + 8] = b"\xff" * 8
    (tmp_path / "bad.warc.gz").write_bytes(b"".join(members[:2]) + bytes(last))
    assert W.records_to_rows("p", (tmp_path / "bad.warc.gz").read_bytes(), None) == []
    (tmp_path / "ok.warc").write_bytes(W.write_warc(_fixture_records()))
    if ceiling is not None:
        monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", ceiling)
    rows = W.read_warc(spark, str(tmp_path / "*.warc*"), record_types=None).collect()
    assert len(rows) == 4
    assert all(r._kpf_source.endswith("ok.warc") for r in rows)


# --- WET / WAT sidecars -------------------------------------------------------


def test_wet_conversion_records_parse():
    from kusto_pre_forge_spark.sources import warc as W

    blob = W.write_warc(
        [
            W.warc_record_bytes(
                "https://e.com/a", b"info", warc_type="warcinfo",
                content_type="application/warc-fields",
            ),
            W.warc_record_bytes(
                "https://e.com/a", "extracted prose é".encode(),
                warc_type="conversion", content_type="text/plain",
            ),
        ],
        gzip_per_record=True,
    )
    rows = W.records_to_rows("p", blob, ("conversion",))
    assert len(rows) == 1
    r = rows[0]
    assert r["warc_type"] == "conversion"
    assert r["content_type"] == "text/plain"
    # no HTTP message: payload is the raw block, status NULL
    assert r["http_status"] is None
    assert r["payload_text"] == "extracted prose é"
    assert r["content_length"] == len("extracted prose é".encode())


def test_front_door_wet_blob_yields_text():
    """A WET blob in a mixed dump must extract its conversion text —
    the pre-fix front door (response-only) returned empty."""
    from kusto_pre_forge_spark.sources import autoextract as A
    from kusto_pre_forge_spark.sources import warc as W

    blob = W.write_warc(
        [
            W.warc_record_bytes(
                "https://e.com/a", b"meta", warc_type="warcinfo",
                content_type="application/warc-fields",
            ),
            W.warc_record_bytes(
                "https://e.com/a", b"wet text one", warc_type="conversion",
                content_type="text/plain",
            ),
            W.warc_record_bytes(
                "https://e.com/b", b"wet text two", warc_type="conversion",
                content_type="text/plain",
            ),
        ]
    )
    kind, text = A.extract_auto(blob)
    assert kind == "warc"
    assert text == "wet text one\x0cwet text two"


def test_content_type_override_default_unchanged():
    from kusto_pre_forge_spark.sources import warc as W

    rec = W.warc_record_bytes("https://e.com", b"x")
    assert b"Content-Type: application/http; msgtype=response" in rec
    rec2 = W.warc_record_bytes(
        "https://e.com", b"{}", warc_type="metadata",
        content_type="application/json",
    )
    assert b"Content-Type: application/json" in rec2
    assert b"WARC-Type: metadata" in rec2
