"""Source layer: listing, zip-archive input (Text/TextSource.cs:80-108)."""

import zipfile

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.config import Compression, DataFormat, RunSettings
from kusto_pre_forge_spark.sources.blob import list_source, read_landing, read_zip_lines


@pytest.fixture(scope="module")
def zipped_orders(spark, sf_smoke, tmp_path_factory):
    d = tmp_path_factory.mktemp("zip")
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    pdf = orders.toPandas()
    csv_path = d / "orders.csv"
    pdf.to_csv(csv_path, index=False)
    zpath = d / "orders.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        z.write(csv_path, "orders.csv")
    return str(zpath), orders


def test_zip_txt_lines(spark, zipped_orders):
    zpath, orders = zipped_orders
    txt = read_landing(
        spark, zpath, RunSettings(fmt=DataFormat.TXT, input_compression=Compression.ZIP)
    )
    assert txt.count() == orders.count() + 1  # header line included in txt mode
    assert txt.columns == ["Text", "_kpf_source"]


def test_zip_csv_parsed(spark, zipped_orders):
    zpath, orders = zipped_orders
    # pandas CSV serializes timestamps in a format from_csv won't parse by
    # default; string/long/double columns cover the parse contract
    import pyspark.sql.types as T

    schema = T.StructType(
        [f for f in orders.schema.fields if not isinstance(f.dataType, T.TimestampType)]
    )
    proj = [f.name for f in schema.fields]
    csv = read_landing(
        spark,
        zpath,
        RunSettings(fmt=DataFormat.CSV, input_compression=Compression.ZIP),
        schema=schema,
    ).select(*proj)
    assert csv.count() == orders.count()
    got = csv.agg(F.sum("o_totalprice")).collect()[0][0]
    want = orders.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(got - want) < 1e-6


def test_zip_first_entry_only(spark, tmp_path):
    z = tmp_path / "multi.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("first.txt", "a\nb\n")
        zf.writestr("second.txt", "IGNORED\n")
    lines = read_zip_lines(spark, str(z))
    assert [r.Text for r in lines.collect()] == ["a", "b"]


def test_zip_csv_requires_schema(spark, zipped_orders):
    zpath, _ = zipped_orders
    with pytest.raises(ValueError):
        read_landing(
            spark,
            zpath,
            RunSettings(fmt=DataFormat.CSV, input_compression=Compression.ZIP),
        )


def test_list_source_suffix_filter(spark, tmp_path):
    (tmp_path / "a-1.csv").write_text("x\n")
    (tmp_path / "a-2.txt").write_text("y\n")
    got = list_source(spark, f"{tmp_path}/a-", ".csv")
    assert len(got) == 1 and got[0].endswith("a-1.csv")


def test_multimember_gzip_reads_fully(spark, tmp_path):
    """Reference defect SURVEY 4.3 #4: its gunzip reads one member and
    breaks on multi-member archives; Hadoop's codec (ours) must not."""
    import gzip as gz

    p = tmp_path / "mm.txt.gz"
    with open(p, "wb") as f:
        f.write(gz.compress(b"line1\nline2\n"))
        f.write(gz.compress(b"line3\nline4\n"))
    got = sorted(r.value for r in spark.read.text(str(p)).collect())
    assert got == ["line1", "line2", "line3", "line4"]


def test_trailing_record_without_newline_kept(spark, tmp_path):
    """Reference defect SURVEY 4.3 #3: the live parser silently drops a
    trailing unterminated record; intended semantics keep it."""
    from kusto_pre_forge_spark.plans.split import read_lines

    p = tmp_path / "t.txt"
    p.write_bytes(b"a\nb\nc-no-newline")
    got = sorted(r.Text for r in read_lines(spark, str(p)).collect())
    assert got == ["a", "b", "c-no-newline"]


def test_partition_key_in_last_column_works(spark, tmp_path):
    """Reference defect SURVEY 4.3 #2: key extraction fires only on ',' so
    a last-column key desynchronizes the reference parser; ours must
    partition on a final column like any other."""
    from kusto_pre_forge_spark.catalog import PartitionPolicy
    from kusto_pre_forge_spark.functions.hashing import kusto_preforge_hash
    from kusto_pre_forge_spark.plans.prepartition import PID_COL, prepartition

    p = tmp_path / "k.csv"
    p.write_text("id,key\n1,alpha\n2,beta\n3,alpha\n")
    df = spark.read.options(header="true").csv(str(p))
    out = prepartition(df, PartitionPolicy("key", 8, 42))
    rows = out.collect()
    assert len(rows) == 3
    bad = out.filter(F.col(PID_COL) != kusto_preforge_hash("key", 8, 42))
    assert bad.count() == 0
    # equal keys agree on pid regardless of column position
    pids = {r.key: r[PID_COL] for r in rows}
    assert pids["alpha"] is not None and len({r[PID_COL] for r in rows if r.key == "alpha"}) == 1


def test_read_landing_orc(spark, sf_smoke, tmp_path):
    from kusto_pre_forge_spark.config import DataFormat, RunSettings
    from kusto_pre_forge_spark.sources.blob import read_landing

    src = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    src.write.orc(str(tmp_path / "n.orc"))
    got = read_landing(
        spark, str(tmp_path / "n.orc"), RunSettings(fmt=DataFormat.ORC)
    )
    assert got.drop("_kpf_source").count() == src.count()
    assert "_kpf_source" in got.columns


def test_w3c_log_roundtrip(spark, tmp_path):
    """w3clogfile source: #Fields-directed schema, '-' -> NULL, directive
    lines dropped, names sanitized."""
    from kusto_pre_forge_spark.sources.w3clog import read_w3c_log, w3c_parse

    log = "\n".join(
        [
            "#Software: Internet Information Services 10.0",
            "#Version: 1.0",
            "#Fields: date time c-ip cs-method cs-uri-stem sc-status time-taken",
            "2024-05-01 00:00:01 10.0.0.1 GET /index.html 200 12",
            "2024-05-01 00:00:02 10.0.0.2 POST /api/upload 201 -",
            "2024-05-01 00:00:03 - GET /favicon.ico 404 3",
        ]
    )
    p = tmp_path / "ex240501.log"
    p.write_text(log + "\n")
    out = read_w3c_log(spark, str(p)).orderBy("time").collect()
    assert [r.asDict() for r in out][0] == {
        "date": "2024-05-01", "time": "00:00:01", "c_ip": "10.0.0.1",
        "cs_method": "GET", "cs_uri_stem": "/index.html",
        "sc_status": "200", "time_taken": "12",
    }
    assert out[1].time_taken is None, "'-' placeholder -> NULL"
    assert out[2].c_ip is None
    # parse-only entry point over an existing lines frame
    df = spark.createDataFrame([("a b",), ("#x",)], "value string")
    got = w3c_parse(df, ["cs(Referer)", "sc-bytes"]).collect()
    assert len(got) == 1 and got[0].cs_referer == "a" and got[0].sc_bytes == "b"


def test_avro_ocf_roundtrip(spark, tmp_path):
    """Dependency-free Avro OCF: header/metadata/sync framing, zigzag
    varints, deflate codec, [null,T] unions, enum/fixed/logical types —
    read back through the distributed binaryFile + mapInPandas path."""
    from kusto_pre_forge_spark.sources.avro import (
        iter_ocf_records,
        read_avro,
        write_avro_ocf,
    )

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
            {"name": "ok", "type": "boolean"},
            {"name": "kind", "type": {"type": "enum", "name": "k",
                                      "symbols": ["a", "b", "c"]}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-millis"}},
            {"name": "payload", "type": "bytes"},
        ],
    }
    records = [
        {"id": 1, "name": "alpha", "score": 1.5, "ok": True, "kind": "b",
         "ts": 1714521600123, "payload": b"\x00\x01"},
        {"id": -2, "name": None, "score": -0.25, "ok": False, "kind": "a",
         "ts": 1714521601000, "payload": b""},
        {"id": 1 << 40, "name": "z", "score": 0.0, "ok": True, "kind": "c",
         "ts": 0, "payload": b"xyz"},
    ]
    for codec in ("null", "deflate"):
        raw = write_avro_ocf(schema, records, codec=codec)
        got = list(iter_ocf_records(raw))
        assert got == records, codec
    p = tmp_path / "part-0.avro"
    p.write_bytes(write_avro_ocf(schema, records, codec="deflate"))
    df = read_avro(spark, str(tmp_path / "*.avro")).orderBy("score")
    rows = df.collect()
    assert [r.id for r in rows] == [-2, 1 << 40, 1]
    assert rows[0].name is None and rows[2].name == "alpha"
    assert rows[2].ts.isoformat().startswith("2024-05-01")
    assert rows[2].payload == b"\x00\x01" and rows[1].kind == "c"
    assert rows[0]._kpf_source.endswith("part-0.avro")


def test_avro_via_read_landing(spark, tmp_path):
    from kusto_pre_forge_spark.config import DataFormat, RunSettings
    from kusto_pre_forge_spark.sources.avro import write_avro_ocf
    from kusto_pre_forge_spark.sources.blob import read_landing

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "x", "type": "int"},
            {"name": "s", "type": "string"},
        ],
    }
    p = tmp_path / "data-00.avro"
    p.write_bytes(
        write_avro_ocf(schema, [{"x": i, "s": f"v{i}"} for i in range(100)])
    )
    out = read_landing(
        spark, [str(p)], RunSettings(fmt=DataFormat.AVRO)
    )
    assert out.count() == 100
    assert set(out.columns) == {"x", "s", "_kpf_source"}
    assert out.agg(F.sum("x")).first()[0] == 4950


def test_avro_unsupported_nested_raises(tmp_path):
    from kusto_pre_forge_spark.sources.avro import write_avro_ocf
    import pytest as _pt

    nested = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": {"type": "array", "items": "int"}}],
    }
    with _pt.raises(NotImplementedError, match="nested avro"):
        write_avro_ocf(nested, [])


def test_avro_ocf_roundtrip_fuzz():
    """Property: encode→decode is the identity for any record set in the
    supported subset (both codecs) — driver-side, no Spark session."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kusto_pre_forge_spark.sources.avro import iter_ocf_records, write_avro_ocf

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "y", "type": "bytes"},
        ],
    }
    rec = st.fixed_dictionaries(
        {
            "i": st.integers(min_value=-(2**63), max_value=2**63 - 1),
            "s": st.one_of(st.none(), st.text(max_size=40)),
            "d": st.floats(allow_nan=False, width=64),
            "b": st.booleans(),
            "y": st.binary(max_size=30),
        }
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(rec, max_size=20), st.sampled_from(["null", "deflate"]))
    def prop(records, codec):
        raw = write_avro_ocf(schema, records, codec=codec)
        assert list(iter_ocf_records(raw)) == records

    prop()


def test_w3c_parse_truncated_lines_yield_nulls(spark):
    """Blank/truncated lines (routine in real IIS logs) must yield NULL
    fields, not abort the job under ANSI mode."""
    from kusto_pre_forge_spark.sources.w3clog import w3c_parse

    df = spark.createDataFrame(
        [("2024-05-01 00:00:01 10.0.0.1",), ("",), ("onlyonefield",)],
        "value string",
    )
    out = w3c_parse(df, ["date", "time", "c-ip", "sc-status"]).collect()
    assert len(out) == 3
    assert out[0].sc_status is None, "missing trailing field -> NULL"
    assert out[1].date == "" and out[1].time is None
    assert out[2].time is None


def test_w3c_parse_typed_fields(spark):
    from kusto_pre_forge_spark.sources.w3clog import w3c_parse

    df = spark.createDataFrame(
        [
            ("2024-05-01 GET 200 12",),
            ("2024-05-01 GET xxx -",),  # malformed status -> NULL, '-' -> NULL
        ],
        "value string",
    )
    out = w3c_parse(
        df, ["date", "cs-method", "sc-status", "time-taken"], typed=True
    ).collect()
    assert str(out[0].date) == "2024-05-01"
    assert out[0].sc_status == 200 and out[0].time_taken == 12
    assert out[1].sc_status is None and out[1].time_taken is None
    types = dict(
        w3c_parse(df, ["date", "cs-method", "sc-status", "time-taken"], typed=True).dtypes
    )
    assert types == {
        "date": "date", "cs_method": "string",
        "sc_status": "int", "time_taken": "bigint",
    }


def test_read_landing_quarantine_mode(spark, tmp_path):
    """Malformed CSV rows land in the corrupt column instead of nulling
    silently; split_corrupt partitions the read; good rows unaffected."""
    from pyspark.sql import types as T

    from kusto_pre_forge_spark.config import DataFormat, RunSettings
    from kusto_pre_forge_spark.sources.blob import read_landing, split_corrupt

    p = tmp_path / "landing.csv"
    p.write_text("1,alpha,2.5\nnot-a-number,beta,xyz\n3,gamma,9.0\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    df = read_landing(
        spark,
        str(p),
        RunSettings(fmt=DataFormat.CSV, csv_headers=False),
        schema=schema,
        corrupt_col="_kpf_corrupt",
    )
    good, bad = split_corrupt(df)
    grows = sorted((r.id, r.name, r.v) for r in good.collect())
    assert grows == [(1, "alpha", 2.5), (3, "gamma", 9.0)]
    brows = bad.collect()
    assert len(brows) == 1
    assert brows[0]._kpf_corrupt == "not-a-number,beta,xyz"
    assert brows[0]._kpf_source.endswith("landing.csv")
    # schema required for quarantine
    import pytest as _pt
    with _pt.raises(ValueError, match="requires an explicit schema"):
        read_landing(
            spark, str(p), RunSettings(fmt=DataFormat.CSV), corrupt_col="_c"
        )
    # formats with no corrupt-record capture refuse the column rather than
    # return a frame without it
    for fmt, codec, name in [
        (DataFormat.TXT, Compression.NONE, "txt"),
        (DataFormat.PARQUET, Compression.NONE, "parquet"),
        (DataFormat.ORC, Compression.NONE, "orc"),
        (DataFormat.AVRO, Compression.NONE, "avro"),
        (DataFormat.W3CLOGFILE, Compression.NONE, "w3clogfile"),
        (DataFormat.CSV, Compression.ZIP, "zip"),
        (DataFormat.CSV, Compression.XZ, "xz"),
    ]:
        with _pt.raises(ValueError, match=f"not supported for {name} input"):
            read_landing(
                spark,
                str(p),
                RunSettings(fmt=fmt, input_compression=codec),
                schema=schema,
                corrupt_col="_c",
            )


def test_fixed_width_parse_and_file_read(spark, tmp_path):
    """Positional parsing: typed slices, short-line drop, malformed
    numerics -> NULL (never a job kill), per-file header skip."""
    from kusto_pre_forge_spark.sources.fixedwidth import (
        parse_fixed_width,
        read_fixed_width,
    )

    spec = [("id", 4, "bigint"), ("code", 3, "string"), ("qty", 5, "int")]
    lines = [
        "   1AB    10",    # id=1, code='AB', qty=10
        "  22XYZ   -5",    # id=22, code='XYZ', qty=-5
        "badXZZZ   xx",    # id NULL (not a number), qty NULL
        "short",           # < record width -> dropped
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    got = {tuple(r) for r in parse_fixed_width(df, spec).collect()}
    assert got == {(1, "AB", 10), (22, "XYZ", -5), (None, "ZZZ", None)}

    p = tmp_path / "fw.txt"
    p.write_text("HEADER LINE!\n" + "\n".join(lines[:2]) + "\n")
    out = read_fixed_width(spark, str(p), spec, skip_header_lines=1)
    assert {tuple(r) for r in out.collect()} == {(1, "AB", 10), (22, "XYZ", -5)}


def test_read_xz_lines_and_landing(spark, tmp_path):
    """Stock Spark has no XZ codec (a text read of .xz yields raw
    compressed bytes) — the lzma archive reader closes that silently-
    wrong path: lines, lineage, header peel, delimited parse, and
    multi-stream concatenation all work."""
    import lzma

    from pyspark.sql import types as T

    from kusto_pre_forge_spark.config import Compression, DataFormat, RunSettings
    from kusto_pre_forge_spark.sources.blob import read_landing, read_xz_lines

    # two concatenated xz streams in one blob (the gzip-members analogue)
    part1 = lzma.compress(b"alpha\nbravo\n")
    part2 = lzma.compress(b"charlie\n")
    (tmp_path / "a.txt.xz").write_bytes(part1 + part2)
    df = read_xz_lines(spark, str(tmp_path / "a.txt.xz"))
    rows = [r.Text for r in df.collect()]
    assert rows == ["alpha", "bravo", "charlie"]
    assert all(r._kpf_source.endswith("a.txt.xz") for r in df.collect())

    # delimited + header peel through read_landing
    csv = "id,name\n1,aa\n2,bb\n"
    (tmp_path / "b.csv.xz").write_bytes(lzma.compress(csv.encode()))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    out = read_landing(
        spark,
        str(tmp_path / "b.csv.xz"),
        RunSettings(
            fmt=DataFormat.CSV,
            csv_headers=True,
            input_compression=Compression.XZ,
        ),
        schema=schema,
    )
    got = sorted((r.id, r.name) for r in out.collect())
    assert got == [(1, "aa"), (2, "bb")]


def test_read_blobs_identical_across_ceiling(spark, tmp_path, monkeypatch):
    """Above the binaryFile ceiling (forced by patching it to 0),
    read_blobs hands map_blobs paths whose files open inside the
    workers; the typed readers built on it must return identical
    results on both sides — lineage included, for a file name with a
    space and a percent sign."""
    from kusto_pre_forge_spark.sources import blob
    from kusto_pre_forge_spark.sources import docx as D
    from kusto_pre_forge_spark.sources import pdf as P

    (tmp_path / "a.pdf").write_bytes(P.pdf_bytes(["page one", "page two"]))
    (tmp_path / "c d%20.pdf").write_bytes(P.pdf_bytes(["spaced"]))
    (tmp_path / "b.docx").write_bytes(D.docx_bytes("docx text\nsecond"))

    def pages():
        return sorted(
            (r._kpf_source.rsplit("/", 1)[-1], r.page_no, r.page_text)
            for r in P.read_pdf(spark, str(tmp_path / "*.pdf")).collect()
        )

    mem = pages()
    below = blob.read_blobs(spark, str(tmp_path / "*"))
    assert below.where("content IS NULL").count() == 0
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    above = blob.read_blobs(spark, str(tmp_path / "*"))
    assert above.columns == ["path", "content"]
    assert above.where("content IS NOT NULL").count() == 0
    # the same listing, in the binaryFile path spelling, on both sides
    assert sorted(r.path for r in above.select("path").collect()) == sorted(
        r.path for r in below.select("path").collect()
    )
    assert pages() == mem == [
        ("a.pdf", 0, "page one"),
        ("a.pdf", 1, "page two"),
        ("c d%20.pdf", 0, "spaced"),
    ]
    assert (
        D.read_docx(spark, str(tmp_path / "*.docx")).first().text
        == "docx text\nsecond"
    )


def test_read_blobs_above_ceiling_one_file_per_task(spark, tmp_path, monkeypatch):
    """Above the ceiling read_blobs must GUARANTEE at most one file per
    task: the listing slices exactly (no hash column) so collisions
    cannot co-locate several huge files on one task. The files that fit
    stay on binaryFile, which never reads a larger file's bytes: its
    own length limit, set to the ceiling, would fail the job if it
    did."""
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.sources import blob

    d = tmp_path / "many"
    d.mkdir()
    for i in range(12):
        (d / f"f{i:02d}.bin").write_bytes(b"x" * (i + 1))
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 6)
    out = blob.read_blobs(spark, str(d / "*"))
    per_task = (
        out.where(F.col("content").isNull())
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    assert sum(r["count"] for r in per_task) == 6
    assert max(r["count"] for r in per_task) == 1
    spark.conf.set("spark.sql.sources.binaryFile.maxLength", "6")
    try:
        fits = out.where(F.col("content").isNotNull()).collect()
    finally:
        spark.conf.unset("spark.sql.sources.binaryFile.maxLength")
    assert sorted(len(r.content) for r in fits) == [1, 2, 3, 4, 5, 6]


def _single_path_fixtures():
    """(name, file name, forged bytes, reader(spark, glob)) for the
    formats that only ever had a binaryFile path."""
    from kusto_pre_forge_spark.sources import epub as E
    from kusto_pre_forge_spark.sources import ipynb as N
    from kusto_pre_forge_spark.sources import mail as M
    from kusto_pre_forge_spark.sources import rtf as R
    from kusto_pre_forge_spark.sources import subtitles as S
    from kusto_pre_forge_spark.sources.avro import read_avro, write_avro_ocf

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-millis"}},
        ],
    }
    avro = write_avro_ocf(
        schema,
        [{"id": 1, "name": "a", "ts": 1714521600123},
         {"id": 2, "name": None, "ts": 0}],
    )
    mbox = M.mbox_bytes(
        [{"subject": f"s{i}", "from_addr": "a@b.c",
          "date": "Thu, 1 Jan 1970 00:00:00 +0000", "body": f"body {i}"}
         for i in range(2)]
    )
    return {
        "epub": ("b.epub", E.epub_bytes(["c1", "c2"]), E.read_epub),
        "mail": ("m.mbox", mbox, M.read_mbox),
        "rtf": ("d.rtf", R.rtf_bytes("rtf text\nline two"), R.read_rtf),
        "subtitles": (
            "s.srt", S.srt_bytes([(0, 1500, "hello"), (2000, 3000, "bye")]),
            S.read_subtitles,
        ),
        "avro": ("e.avro", avro, read_avro),
        "ipynb": (
            "n.ipynb", N.ipynb_bytes([("markdown", "# t"), ("code", "x = 1")]),
            N.read_ipynb,
        ),
    }


@pytest.mark.parametrize(
    "fmt", ["epub", "mail", "rtf", "subtitles", "avro", "ipynb"]
)
def test_reader_rows_identical_across_ceiling(spark, tmp_path, monkeypatch, fmt):
    """Every document reader returns the same rows below the binaryFile
    ceiling and above it (forced by patching it to 0), where
    read_blobs hands map_blobs paths opened inside the workers."""
    from kusto_pre_forge_spark.sources import blob

    name, data, read = _single_path_fixtures()[fmt]
    (tmp_path / name).write_bytes(data)
    glob = str(tmp_path / name)

    def rows():
        return sorted(tuple(r) for r in read(spark, glob).collect())

    below = rows()
    monkeypatch.setattr(blob, "BINARYFILE_MAX_BYTES", 0)
    assert rows() == below and below
