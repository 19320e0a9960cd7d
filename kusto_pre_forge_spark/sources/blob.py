"""File/blob sources.

Re-expresses the reference's source layer Spark-first:

- ``ListBlobSource`` — enumerate blobs under a prefix with an optional suffix
  filter (ref: code/KustoPreForgeLib/BlobSources/ListBlobSource.cs:33-41) →
  a glob path handed to ``spark.read``; Spark's file-listing does the
  enumeration in a distributed, partition-pruned way.
- ``DownloadBlobTransform`` / ``GunzipContentTransform`` — 16-way concurrent
  download into a bounded buffer, whole-buffer gunzip with ISIZE preallocation
  (ref: Transforms/DownloadBlobTransform.cs:8-107, GunzipContentTransform.cs:6-77)
  → for line/row formats nothing to write: Spark's reader + Hadoop codecs
  stream and decompress, sized by ``spark.sql.files.maxPartitionBytes``,
  with none of the reference's 4 GiB ISIZE limitation (SURVEY §4.3 #4).
  Whole-blob document formats go through ONE reader, whatever the payload:
  ``read_blobs`` (one listing; the 2 GiB binaryFile decision made per
  file from the listed lengths), ``map_blobs`` (one Arrow map handing
  each format's row function a binary file object) and
  ``open_decompressed`` (one decompress-by-magic opener).
- ``TextSource`` (dormant split path) → ``load_landing``, the one format →
  Spark source dispatch of ``read_landing``, ``StreamingEtl`` and Split.

Scale note: a 100 TB prefix listing is driver-side metadata only; the read
itself fans out one task per file split. Filters/projections on the returned
DataFrame push into the scan (parquet) or prune columns (csv).
"""

from __future__ import annotations

import io
import lzma
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kusto_pre_forge_spark.config import DataFormat, RunSettings

# Lineage: the landing file (or blob path) each row came from.
SOURCE_COL = "_kpf_source"

# RFC-4180, as the reference's parse state machine (CsvParseTransform.cs:64-82):
# "" escapes a quote inside a quoted field, and a quoted field may hold
# newlines. One dialect for the batch (read_landing) and streaming
# (StreamingEtl) readers.
CSV_DIALECT = {"quote": '"', "escape": '"', "multiLine": "true"}

# Every landing format a Spark file source parses: DataFormat → (source,
# options), read by load_landing alone — for bulk, streaming and Split.
_SPARK_SOURCES = {
    DataFormat.TXT: ("text", {}),
    DataFormat.CSV: ("csv", {"sep": ",", **CSV_DIALECT}),
    DataFormat.TSV: ("csv", {"sep": "\t", **CSV_DIALECT}),
    DataFormat.PSV: ("csv", {"sep": "|", **CSV_DIALECT}),
    DataFormat.JSON: ("json", {}),
    DataFormat.PARQUET: ("parquet", {}),
    DataFormat.ORC: ("orc", {}),
}


def list_source(
    spark: SparkSession,
    prefix: str,
    suffix: str | None = None,
) -> list[str]:
    """Enumerate input files under ``prefix`` with an optional suffix filter.

    ref: ListBlobSource.cs:33-35 (ListBlobsAsync + EndsWith(suffix)).
    Returns concrete paths so the caller can audit the unit list (the
    reference journals each listed blob, :41); the actual read still goes
    through Spark's own listing for the glob form.
    """
    # Spark/Hadoop glob: prefix* picks up everything under the prefix.
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(prefix + "*")
    fs = path.getFileSystem(conf)
    statuses = fs.globStatus(path) or []
    out = []
    for st in statuses:
        p = st.getPath().toString()
        if st.isDirectory():
            continue
        if suffix is None or p.endswith(suffix):
            out.append(p)
    return sorted(out)


# Spark's binaryFile source materializes each file as ONE byte array whose
# length must fit a JVM array (Int.MaxValue): the per-file ceiling above
# which read_blobs leaves a file to be opened inside the workers. Module constant
# so tests can force either side.
BINARYFILE_MAX_BYTES = 2_147_483_647

# What a corrupt compressed stream or container raises while a parser
# reads it: the exceptions map_blobs quarantines a blob on.
DECODE_ERRORS = (OSError, EOFError, ValueError, zlib.error, lzma.LZMAError)

_GZIP, _BZ2, _XZ, _7Z = b"\x1f\x8b", b"BZh", b"\xfd7zXZ\x00", b"7z\xbc\xaf\x27\x1c"


def read_blobs(spark: SparkSession, path: list[str] | str) -> DataFrame:
    """``(path, content, …)`` blob rows for a directory/glob (or a list
    of them) — the one entry point of every document source (ref:
    DownloadBlobTransform.cs:8-107).

    The path is listed once, by ``binaryFile``'s own file index (built
    at load, no job), and each listed length decides that file's read.
    When every file fits ``BINARYFILE_MAX_BYTES`` this is the
    ``binaryFile`` frame itself. Otherwise the files that fit still come
    from ``binaryFile`` (the length filter is pushed into the scan, so a
    larger file's bytes are never materialized), and each larger one
    comes as a ``(path, NULL)`` row in an EXACT one-file-per-task slice,
    which :func:`map_blobs` opens inside the worker. Exact slicing, not
    hashing: hash-by-path can collide several huge files onto one task.
    Paths keep the binaryFile spelling (Hadoop ``Path.toString``,
    ``file:/d/a b.warc``), so rows are identical on both sides."""
    bf = spark.read.format("binaryFile").load(path)
    big = []
    listed = (
        bf._jdf.queryExecution().analyzed().relation().location().allFiles().iterator()
    )
    while listed.hasNext():
        st = listed.next()
        if st.getLen() > BINARYFILE_MAX_BYTES:
            big.append(st.getPath().toString())
    if not big:
        return bf
    fits = bf.where(F.col("length") <= BINARYFILE_MAX_BYTES)
    return fits.select("path", "content").unionByName(
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(p, None) for p in sorted(big)], min(len(big), 10_000)
            ),
            "path string, content binary",
        )
    )


def worker_local_path(path: str) -> str:
    """Strip the file: scheme and refuse bare remote schemes — the guard
    of every file :func:`map_blobs` opens inside a worker."""
    raw = path
    if raw.startswith("file://"):
        raw = raw[7:]
    elif raw.startswith("file:"):
        raw = raw[5:]
    if "://" in raw:
        scheme = raw.split("://", 1)[0]
        raise NotImplementedError(
            f"worker-side reads open files with the worker's own "
            f"filesystem and cannot address the '{scheme}://' scheme; "
            "mount the store (fuse/NFS) or keep files under the 2 GiB "
            "binaryFile ceiling"
        )
    return raw


def open_decompressed(f):
    """The decompress-by-magic opener (ref: GunzipContentTransform.cs:6-77):
    ``f``, a seekable binary file, as a file object of its decompressed
    bytes. gzip (concatenated members — the Common Crawl one-member-per-
    record layout — included), bz2 (``BZh`` + a level digit) and xz
    decompress incrementally; a 7z archive yields its first ``.xml``
    member (Stack Exchange and Wikimedia ship one dump per archive; 7z's
    solid blocks have no streaming entry), through the ``py7zr`` wheel
    where it is importable. Anything else comes back as ``f`` itself.
    Magic decides — crawl extensions lie."""
    import bz2
    import gzip

    head = f.read(6)
    f.seek(0)
    if head[:2] == _GZIP:
        return gzip.GzipFile(fileobj=f)
    if head[:3] == _BZ2 and head[3:4].isdigit():
        return bz2.BZ2File(f)
    if head == _XZ:
        return lzma.LZMAFile(f)
    if head == _7Z:
        try:
            import py7zr
        except ImportError:
            raise NotImplementedError(
                "no stdlib 7z codec exists; `pip install py7zr` on the "
                "executors (the import-try hatch), or recompress to "
                "bz2/gzip (e.g. `7z x` then `bzip2`)"
            ) from None
        with py7zr.SevenZipFile(f) as sz:
            names = [
                fi.filename
                for fi in sz.list()
                if not getattr(fi, "is_directory", False)
                and fi.filename.lower().endswith(".xml")
            ]
            if not names:
                raise ValueError("7z archive holds no .xml member")
            sz.reset()
            return io.BytesIO(sz.read(names[:1])[names[0]].read())
    return f


def map_blobs(blobs: DataFrame, rows, ddl: str, errors=(), finish=None) -> DataFrame:
    """The one Arrow map of every document source. ``rows(path, f)``
    yields the row dicts of one blob open as binary file ``f`` —
    ``io.BytesIO`` over the blob's ``content`` (a ``binaryFile`` frame,
    batch or streaming), or, where :func:`read_blobs` left ``content``
    NULL (a file above the ceiling), the file itself, opened inside the
    worker. Rows without their own ``_kpf_source`` get the blob path.

    A blob whose rows raise one of ``errors`` quarantines as ZERO rows
    on both sides — one corrupt archive must not fail the task, and
    must not leave a partial prefix either. An in-memory blob's rows are
    collected before they are kept. A worker-opened file is first read
    whole through ``rows`` keeping nothing, then read again and emitted
    in 1024-row frames, so memory stays one frame whatever the file
    size; with ``errors`` set, such a file is decompressed and parsed
    twice. ``finish`` post-processes each pandas frame (type fixes)."""
    import pandas as pd

    cols = [c.split()[0].strip("`") for c in ddl.split(", ")]

    def frame(out):
        pdf = pd.DataFrame(out, columns=cols)
        return finish(pdf) if finish else pdf

    def blob_rows(p, f):
        return ({SOURCE_COL: p, **r} for r in rows(p, f))

    def worker_open(p):
        local = worker_local_path(p)
        if errors:
            with open(local, "rb") as f:
                try:
                    for _ in rows(p, f):
                        pass
                except errors:
                    return
        with open(local, "rb") as f:
            out = []
            for r in blob_rows(p, f):
                out.append(r)
                if len(out) == 1024:
                    yield frame(out)
                    out = []
            if out:
                yield frame(out)

    def frames(it):
        for pdf in it:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                if content is None:
                    yield from worker_open(p)
                    continue
                try:
                    out.extend(list(blob_rows(p, io.BytesIO(bytes(content)))))
                except errors:
                    pass
            yield frame(out)

    return blobs.select("path", "content").mapInPandas(frames, ddl)


def _read_archive_lines(
    spark: SparkSession,
    paths: list[str] | str,
    decompress,
    drop_first_line: bool,
) -> DataFrame:
    """(Text, _kpf_source) lines of each archive blob, ``decompress(f)
    -> str`` applied per blob file. Archives are not splittable, so the
    unit of parallelism is the blob (one task each), exactly the
    reference's per-blob model. ``drop_first_line`` peels a header at the
    source (lines arrive in order inside the task, so no window is
    needed)."""

    def lines(_path, f):
        got = decompress(f).splitlines()
        for line in got[1:] if drop_first_line else got:
            yield {"Text": line}

    return map_blobs(read_blobs(spark, paths), lines, "Text string, _kpf_source string")


def read_zip_lines(
    spark: SparkSession,
    paths: list[str] | str,
    drop_first_line: bool = False,
) -> DataFrame:
    """Text lines from the FIRST entry of each zip archive (strict UTF-8).

    ref: Text/TextSource.cs:80-108 — the reference opens the archive and
    reads only ``Entries.First()``; same here.
    """

    def first_entry(f) -> str:
        import zipfile

        with zipfile.ZipFile(f) as z:
            names = z.namelist()
            return z.read(names[0]).decode("utf-8") if names else ""

    return _read_archive_lines(spark, paths, first_entry, drop_first_line)


def read_xz_lines(
    spark: SparkSession,
    paths: list[str] | str,
    drop_first_line: bool = False,
) -> DataFrame:
    """Text lines from .xz blobs via stdlib ``lzma`` — stock Spark has
    no Hadoop XZ codec, and a plain text read of an .xz file silently
    yields the RAW COMPRESSED BYTES as 'lines' (verified), which is a
    silent-corruption hazard this reader exists to close. Multi-stream
    concatenation (the xz analogue of gzip members) decompresses
    transparently; undecodable bytes become U+FFFD."""

    def unxz(f) -> str:
        return lzma.LZMAFile(f).read().decode("utf-8", "replace")

    return _read_archive_lines(spark, paths, unxz, drop_first_line)


def load_landing(
    reader, path, fmt: DataFormat, csv_headers=True, schema=None, corrupt_col=None
) -> DataFrame:
    """The one format → Spark source dispatch of a landing, for
    ``spark.read`` and ``spark.readStream`` alike: the format's source
    and options (csv/tsv/psv add ``header``), the corrupt-record capture
    (csv/tsv/psv/json), the schema, then ``load``. Text lands as one
    ``Text`` column whatever the table schema (templates/script.kql:2).
    Rows carry ``SOURCE_COL``."""
    if fmt not in _SPARK_SOURCES:
        raise NotImplementedError(f"no Spark file source reads {fmt.value} landings")
    source, options = _SPARK_SOURCES[fmt]
    reader = reader.format(source).options(**options)
    if source == "csv":
        reader = reader.option("header", str(csv_headers).lower())
    if corrupt_col is not None:
        if source not in ("csv", "json"):
            raise ValueError(f"corrupt_col is not supported for {fmt.value} input")
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
        reader = reader.options(
            mode="PERMISSIVE", columnNameOfCorruptRecord=corrupt_col
        )
    if source == "text":
        df = reader.load(path).withColumnRenamed("value", "Text")
    else:
        df = (reader.schema(schema) if schema is not None else reader).load(path)
    return df.withColumn(SOURCE_COL, F.input_file_name())


def read_landing(
    spark: SparkSession,
    paths: list[str] | str,
    settings: RunSettings,
    schema=None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Read input blobs into a DataFrame with lineage.

    Format dispatch mirrors EtlRun.cs:87-118 (txt/csv live; the reference
    throws for other formats — we support them natively). Every format a
    Spark file source parses goes through :func:`load_landing`, the same
    dispatch ``StreamingEtl`` and Split read with; zip/xz archives, avro
    and w3clogfile have their own readers here. Compression is
    transparent via file extension (Hadoop codecs), replacing
    GunzipContentTransform entirely.

    Output always carries ``_kpf_source`` = the source file path
    (``input_file_name()``), the Spark-native form of BlobData's blob URI —
    lineage needed by the idempotent sink (Text/TextKustoSink.cs:52-63).

    ``corrupt_col`` (csv/tsv/psv/json with an explicit ``schema``) turns
    on quarantine mode: malformed rows survive the read with their RAW
    text captured in that column instead of silently nulling
    (PERMISSIVE + columnNameOfCorruptRecord) — split them off with
    :func:`split_corrupt`. Any other format, and zip/xz input, refuses
    it with a ``ValueError``. The reference hard-fails the whole blob on a
    malformed record (single-pass state machine, CsvParseTransform.cs);
    production pre-forge wants the 99.99% good rows plus a reviewable
    reject stream, so quarantine is the engine's default recommendation.
    """
    from kusto_pre_forge_spark.config import Compression

    if isinstance(paths, str):
        paths = [paths]
    fmt = settings.fmt
    read_archive = {Compression.XZ: read_xz_lines, Compression.ZIP: read_zip_lines}
    read_lines = read_archive.get(settings.input_compression)
    if read_lines is None and fmt in _SPARK_SOURCES:
        return load_landing(
            spark.read, paths, fmt, settings.csv_headers, schema, corrupt_col
        )
    codec = settings.input_compression.value.lower() if read_lines else None
    if corrupt_col is not None:
        raise ValueError(f"corrupt_col is not supported for {codec or fmt.value} input")
    if read_lines:
        # gzip/zstd are transparent Hadoop codecs; zip (an archive) and xz
        # (no codec in stock Spark) need the archive readers. txt: lines
        # as-is. Delimited: parse the lines with from_csv against the
        # caller's schema (required — there is no sampling pass over
        # archive members).
        if fmt == DataFormat.TXT:
            return read_lines(spark, paths)
        source, options = _SPARK_SOURCES.get(fmt, (None, None))
        if source != "csv":
            raise NotImplementedError(f"{codec} input for format {fmt}")
        if schema is None:
            raise ValueError(f"{codec}-compressed delimited input requires a schema")
        lines = read_lines(spark, paths, drop_first_line=settings.csv_headers)
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        parsed = F.from_csv(F.col("Text"), F.lit(ddl), options)
        return lines.select(parsed.alias("_r"), SOURCE_COL).select("_r.*", SOURCE_COL)
    if fmt == DataFormat.AVRO:
        from kusto_pre_forge_spark.sources.avro import read_avro

        # read_avro emits _kpf_source itself (binaryFile path column —
        # input_file_name() is empty under non-file-scan sources)
        return read_avro(spark, paths[0] if len(paths) == 1 else paths)
    if fmt == DataFormat.W3CLOGFILE:
        # read_w3c_log resolves dirs/globs/URIs to a sample file for the
        # #Fields sniff — the same shapes every other format accepts
        from kusto_pre_forge_spark.sources.w3clog import read_w3c_log

        df = read_w3c_log(spark, paths if len(paths) > 1 else paths[0])
        return df.withColumn(SOURCE_COL, F.input_file_name())
    raise NotImplementedError(f"format {fmt}")  # pragma: no cover - enum is closed


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_kpf_corrupt"
) -> tuple[DataFrame, DataFrame]:
    """Split a quarantine-mode read into (good, rejected).

    ``good`` drops the capture column; ``rejected`` keeps every column
    (raw text in ``corrupt_col`` + whatever fields DID parse + lineage)
    so the reject stream is reviewable and re-ingestable after a fix.
    Spark refuses queries that reference ONLY the internal corrupt
    column — both halves here select the full row, which keeps the
    plans legal without caching.
    """
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    return good, bad
