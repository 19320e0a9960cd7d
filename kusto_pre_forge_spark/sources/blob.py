"""File/blob sources.

Re-expresses the reference's source layer Spark-first:

- ``ListBlobSource`` — enumerate blobs under a prefix with an optional suffix
  filter (ref: code/KustoPreForgeLib/BlobSources/ListBlobSource.cs:33-41) →
  a glob path handed to ``spark.read``; Spark's file-listing does the
  enumeration in a distributed, partition-pruned way.
- ``DownloadBlobTransform`` / ``GunzipContentTransform`` — 16-way concurrent
  download into a bounded buffer, whole-buffer gunzip with ISIZE preallocation
  (ref: Transforms/DownloadBlobTransform.cs:8-107, GunzipContentTransform.cs:6-77)
  → nothing to write: Spark's reader + Hadoop codecs stream and decompress,
  sized by ``spark.sql.files.maxPartitionBytes``, with none of the reference's
  4 GiB ISIZE limitation (SURVEY §4.3 #4).
- ``TextSource`` (dormant split path) → ``spark.read.text``.

Scale note: a 100 TB prefix listing is driver-side metadata only; the read
itself fans out one task per file split. Filters/projections on the returned
DataFrame push into the scan (parquet) or prune columns (csv).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kusto_pre_forge_spark.config import DataFormat, RunSettings

_DELIMITERS = {DataFormat.CSV: ",", DataFormat.TSV: "\t", DataFormat.PSV: "|"}

# RFC-4180, as the reference's parse state machine (CsvParseTransform.cs:64-82):
# "" escapes a quote inside a quoted field, and a quoted field may hold
# newlines. One dialect for the batch (read_landing) and streaming
# (StreamingEtl) readers.
CSV_DIALECT = {"quote": '"', "escape": '"', "multiLine": "true"}


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


def _read_archive_lines(
    spark: SparkSession,
    paths: list[str] | str,
    decompress,
    drop_first_line: bool,
) -> DataFrame:
    """(Text, _kpf_source) lines of each archive blob, ``decompress(bytes)
    -> str`` applied per blob. Archives are not splittable, so the unit of
    parallelism is the blob (one task each), exactly the reference's
    per-blob model; the whole blob is decompressed in that task's memory,
    bounded by ``spark.sql.files.maxPartitionBytes`` admission on the
    binary read. ``drop_first_line`` peels a header at the source (lines
    arrive in order inside the task, so no window is needed)."""
    import pandas as pd

    if isinstance(paths, str):
        paths = [paths]
    binary = spark.read.format("binaryFile").load(paths)

    def extract(it):
        for pdf in it:
            for path, content in zip(pdf["path"], pdf["content"]):
                lines = decompress(bytes(content)).splitlines()
                if drop_first_line and lines:
                    lines = lines[1:]
                yield pd.DataFrame(
                    {"Text": lines, "_kpf_source": [path] * len(lines)}
                )

    return binary.select("path", "content").mapInPandas(
        extract, "Text string, _kpf_source string"
    )


def read_zip_lines(
    spark: SparkSession,
    paths: list[str] | str,
    drop_first_line: bool = False,
) -> DataFrame:
    """Text lines from the FIRST entry of each zip archive (strict UTF-8).

    ref: Text/TextSource.cs:80-108 — the reference opens the archive and
    reads only ``Entries.First()``; same here.
    """

    def first_entry(content: bytes) -> str:
        import io
        import zipfile

        with zipfile.ZipFile(io.BytesIO(content)) as z:
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

    def unxz(content: bytes) -> str:
        import lzma

        return lzma.decompress(content).decode("utf-8", "replace")

    return _read_archive_lines(spark, paths, unxz, drop_first_line)


def exact_path_slices(
    spark: SparkSession, path: str, max_files_per_task: int = 1
) -> DataFrame:
    """A one-column ``path`` frame listing a directory/glob, partitioned
    into EXACT contiguous slices of at most ``max_files_per_task`` paths
    per task. Exact slicing, not hashing: hash-by-path can collide
    several huge files onto one task while others stay empty (and a
    plain round-robin repartition starts at a random offset per input
    partition, so collisions survive it too). The listing is already
    driver-resident (Spark's own InMemoryFileIndex materializes it;
    ``inputFiles()`` just exposes that), so parallelize's contiguous
    numSlices split costs nothing extra and guarantees at most
    ceil(n/tasks) files per task. Paths are emitted in the binaryFile
    column spelling (``file:/x``, not ``file:///x``) so rows are
    drop-in identical to a binaryFile read."""
    files = sorted(
        "file:" + p[7:] if p.startswith("file:///") else p
        for p in spark.read.format("binaryFile").load(path).inputFiles()
    )
    n = max(1, len(files) or 1)
    tasks = min(max(1, -(-n // max_files_per_task)), 10_000)
    return spark.createDataFrame(
        spark.sparkContext.parallelize([(p,) for p in files], tasks),
        "path string",
    )


def worker_local_path(path: str) -> str:
    """Strip the file: scheme and refuse bare remote schemes — the
    shared guard for worker-side ``open()`` readers (the
    ``warc._open_for_records`` posture)."""
    raw = path
    if raw.startswith("file://"):
        raw = raw[7:]
    elif raw.startswith("file:"):
        raw = raw[5:]
    if "://" in raw:
        scheme = raw.split("://", 1)[0]
        raise NotImplementedError(
            f"worker-side readers open files with the worker's own "
            f"filesystem and cannot address the '{scheme}://' scheme; "
            "mount the store (fuse/NFS) or use the binaryFile path for "
            "files under 2 GiB"
        )
    return raw


def read_blobs_via_paths(
    spark: SparkSession, path: str, max_files_per_task: int = 1
) -> DataFrame:
    """(path, content) blob rows where the CONTENT is read inside the
    worker with Python's ``open`` — the escape hatch from ``binaryFile``'s
    JVM byte-array ceiling (Int.MaxValue per file) for whole-file
    parsers that need the full blob (PDF's xref lives at the tail, a
    ZIP's central directory likewise). The listing itself is
    metadata-only (binaryFile prunes the content column when only
    ``path`` is selected); paths then repartition so at most
    ``max_files_per_task`` files materialize per task. Covers
    filesystems the worker OS can address (local, NFS/fuse mounts); bare
    remote schemes refuse with the mount workaround named.

    Record-granular formats should prefer true incremental reading
    (``warc.iter_warc_records_from``) — this helper trades the JVM cap
    for Python-heap residency of one file at a time."""
    import pandas as pd

    paths = exact_path_slices(spark, path, max_files_per_task)

    def batches(it):
        for pdf in it:
            for p in pdf["path"]:
                with open(worker_local_path(p), "rb") as f:
                    content = f.read()
                yield pd.DataFrame({"path": [p], "content": [content]})

    return paths.mapInPandas(batches, "path string, content binary")


def read_landing(
    spark: SparkSession,
    paths: list[str] | str,
    settings: RunSettings,
    schema=None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Read input blobs into a DataFrame with lineage.

    Format dispatch mirrors EtlRun.cs:87-118 (txt/csv live; the reference
    throws for other formats — we support them natively). Compression is
    transparent via file extension (Hadoop codecs), replacing
    GunzipContentTransform entirely.

    Output always carries ``_kpf_source`` = the source file path
    (``input_file_name()``), the Spark-native form of BlobData's blob URI —
    lineage needed by the idempotent sink (Text/TextKustoSink.cs:52-63).

    ``corrupt_col`` (csv/tsv/psv/json with an explicit ``schema``) turns
    on quarantine mode: malformed rows survive the read with their RAW
    text captured in that column instead of silently nulling
    (PERMISSIVE + columnNameOfCorruptRecord) — split them off with
    :func:`split_corrupt`. The reference hard-fails the whole blob on a
    malformed record (single-pass state machine, CsvParseTransform.cs);
    production pre-forge wants the 99.99% good rows plus a reviewable
    reject stream, so quarantine is the engine's default recommendation.
    """
    from kusto_pre_forge_spark.config import Compression

    if isinstance(paths, str):
        paths = [paths]
    fmt = settings.fmt
    read_archive = {Compression.XZ: read_xz_lines, Compression.ZIP: read_zip_lines}
    if settings.input_compression in read_archive:
        # gzip/zstd are transparent Hadoop codecs; zip (an archive) and xz
        # (no codec in stock Spark) need the archive readers. txt: lines
        # as-is. Delimited: parse the lines with from_csv against the
        # caller's schema (required — there is no sampling pass over
        # archive members).
        codec = settings.input_compression.value.lower()
        read_lines = read_archive[settings.input_compression]
        if fmt == DataFormat.TXT:
            return read_lines(spark, paths)
        if fmt not in _DELIMITERS:
            raise NotImplementedError(f"{codec} input for format {fmt}")
        if schema is None:
            raise ValueError(f"{codec}-compressed delimited input requires a schema")
        lines = read_lines(spark, paths, drop_first_line=settings.csv_headers)
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        parsed = F.from_csv(
            F.col("Text"), F.lit(ddl), {"sep": _DELIMITERS[fmt], **CSV_DIALECT}
        )
        return lines.select(parsed.alias("_r"), "_kpf_source").select(
            "_r.*", "_kpf_source"
        )
    if fmt == DataFormat.TXT:
        # landing table shape: one Text:string column (templates/script.kql:2)
        df = spark.read.text(paths).withColumnRenamed("value", "Text")
    elif fmt in _DELIMITERS:
        reader = spark.read.options(
            sep=_DELIMITERS[fmt],
            header=str(settings.csv_headers).lower(),
            **CSV_DIALECT,
        )
        use_schema = schema
        if corrupt_col is not None:
            if schema is None:
                raise ValueError("corrupt_col requires an explicit schema")
            use_schema = T.StructType(
                list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
            )
            reader = reader.options(
                mode="PERMISSIVE", columnNameOfCorruptRecord=corrupt_col
            )
        df = (
            reader.csv(paths, schema=use_schema)
            if use_schema is not None
            else reader.csv(paths)
        )
    elif fmt == DataFormat.JSON:
        use_schema = schema
        jreader = spark.read
        if corrupt_col is not None:
            if schema is None:
                raise ValueError("corrupt_col requires an explicit schema")
            use_schema = T.StructType(
                list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
            )
            jreader = jreader.options(
                mode="PERMISSIVE", columnNameOfCorruptRecord=corrupt_col
            )
        df = jreader.json(paths, schema=use_schema)
    elif fmt == DataFormat.PARQUET:
        df = spark.read.parquet(*paths)
    elif fmt == DataFormat.ORC:
        df = spark.read.orc(*paths)
    elif fmt == DataFormat.AVRO:
        from kusto_pre_forge_spark.sources.avro import read_avro

        # read_avro emits _kpf_source itself (binaryFile path column —
        # input_file_name() is empty under non-file-scan sources)
        return read_avro(spark, paths[0] if len(paths) == 1 else paths)
    elif fmt == DataFormat.W3CLOGFILE:
        # read_w3c_log resolves dirs/globs/URIs to a sample file for the
        # #Fields sniff — the same shapes every other format accepts
        from kusto_pre_forge_spark.sources.w3clog import read_w3c_log

        df = read_w3c_log(spark, paths if len(paths) > 1 else paths[0])
    else:  # pragma: no cover - enum is closed
        raise NotImplementedError(f"format {fmt}")
    return df.withColumn("_kpf_source", F.input_file_name())


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
