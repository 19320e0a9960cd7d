"""The PrePartition pipeline — the reference's only live pipeline.

Reference composition (code/KustoPreForgeLib/EtlRun.cs:123-137):

    ListBlobSource → DownloadBlobTransform → [GunzipContentTransform] →
    CsvParseTransform(colIndex, partitionFn) → PartitioningTextTransform →
    PartitionedContentSink(stagingContainers, 1-min flush)

Spark-first re-expression (SURVEY §7 Phase 1): the download/gunzip/parse
stages are the Spark reader; the hash+scatter+sink stages are

    withColumn(pid, kusto_preforge_hash(key, N, seed))
      → repartition(pid)                  # the shuffle IS the scatter
      → write.partitionBy(pid)            # per-partition staged output

Intended semantics (not the buggy byte layout — SURVEY §4.3 #1/#2/#3):
dense per-partition concatenation of records, every input record present in
exactly one partition, partition id = XOR-fold hash of the key field.

Scale: the only wide exchange is :func:`scatter` on ``pid``, by column and
without a count, so AQE coalesces it. ``max_partition_count`` ≤ 2048
(Kusto's cap) keeps output file counts bounded at 100 TB; per-pid output
splits into multiple files sized by ``spark.sql.files.maxRecordsPerFile``
if needed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kusto_pre_forge_spark.catalog import PartitionPolicy
from kusto_pre_forge_spark.functions.hashing import kusto_preforge_hash
from kusto_pre_forge_spark.sources.blob import SOURCE_COL  # noqa: F401  (re-export)

PID_COL = "_kpf_pid"


def prepartition(df: DataFrame, policy: PartitionPolicy) -> DataFrame:
    """Assign the reference's partition id to every record.

    ≡ CsvParseTransform extracting the key column + PartitioningHelper hash
    (ref: Transforms/CsvParseTransform.cs:83-102, PartitioningHelper.cs:15-24).
    NULL keys hash like the empty field (hash = seed % N): the reference
    never materializes a NULL (raw bytes of an empty CSV field are empty).
    """
    key = policy.column_name
    hashed = kusto_preforge_hash(key, policy.max_partition_count, policy.seed)
    pid = F.when(F.col(key).isNull(), policy.seed % policy.max_partition_count).otherwise(hashed)
    return df.withColumn(PID_COL, pid.cast("int"))


def partition_samples(df_with_pid: DataFrame, policy: PartitionPolicy) -> DataFrame:
    """One sample key value per partition id.

    ≡ CsvParseTransform keeping the first seen value per pid
    (ref: Transforms/CsvParseTransform.cs:93-98, sampling dict :124-133).
    "First seen" is scan-order-dependent; we pin ``min`` for determinism —
    any representative value satisfies the reference's use (it only labels
    staged blobs). Map-side partial aggregation makes this a cheap shuffle.
    """
    return df_with_pid.groupBy(PID_COL).agg(
        F.min(policy.column_name).alias("partition_value_sample"),
        F.count(F.lit(1)).alias("record_count"),
    )


def scatter(with_pid: DataFrame, writers: int = 1) -> DataFrame:
    """The reference's scatter: repartition by pid with no count, so AQE
    sizes the write stage (it never coalesces a repartition with a count).
    AQE merges whole reduce partitions and never splits one, so a pid
    reaches one write task: one dense file per pid directory, or up to
    ``writers`` when ``writers > 1`` salts the key."""
    if writers == 1:
        return with_pid.repartition(F.col(PID_COL))
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(writers))
    return with_pid.repartition(F.col(PID_COL), salt)


@dataclass
class PrePartitionResult:
    output_path: str
    manifest: list[dict]
    #: per-run counter sums ≡ PerfCounterJournal output
    #: (code/KustoPreForgeLib/PerfCounterJournal.cs:10-72) — derived from
    #: the manifest aggregate the plan already computes, zero extra jobs
    journal: dict[str, int] | None = None
    #: staging roots when round-robin multi-dir output was requested
    staging_paths: list[str] | None = None


def run_prepartition(
    df: DataFrame,
    policy: PartitionPolicy,
    output_path: str | list[str],
    fmt: str = "parquet",
    compression: str | None = None,
    perf_journal=None,
) -> PrePartitionResult:
    """Full pipeline: hash → scatter → partitioned write → manifest.

    The write is the PartitionedContentSink analogue
    (ref: Transforms/PartitionedContentSink.cs:54-132): one directory per
    partition id replaces one staged block blob per pid; the returned
    manifest (pid, sample, count) replaces the sink's journal counters.
    Flush-interval/micro-batch semantics live in ``streaming.ingest``.

    Few pids (Kusto policies are often 8-256) would bound the write to N
    tasks on a large cluster, so each pid gets ``max(1, defaultParallelism
    // N)`` salted writers — the analogue of the reference sink's
    MAX_PARALLEL_WRITES=16 concurrent block writes (PartitionedContentSink.cs:136).

    ``output_path`` may be a LIST of staging roots — the reference's
    multi-staging-container spread (PartitionedContentSink.cs:54-65 assigns
    each new pid the next container round-robin; arrival order is
    meaningless in a parallel engine, so the deterministic analogue is
    ``pid % n_roots``). One scan, one shuffle, ONE write partitioned by
    (staging, pid) into a temp root, then per-directory moves — a
    metadata-only rename on a filesystem / same-account blob store, never
    an extra pass over the data.
    """
    staging = [output_path] if isinstance(output_path, str) else list(output_path)
    with_pid = prepartition(df, policy)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    scattered = scatter(with_pid, max(1, parallelism // policy.max_partition_count))

    if len(staging) == 1:
        writer = scattered.write.mode("overwrite").partitionBy(PID_COL)
        if compression:
            writer = writer.option("compression", compression)
        getattr(writer, fmt)(staging[0])
    else:
        _write_round_robin(scattered, staging, fmt, compression)

    manifest = [r.asDict() for r in partition_samples(with_pid, policy).collect()]
    if len(staging) > 1:
        for m in manifest:
            m["staging_dir"] = staging[m[PID_COL] % len(staging)]
    counters = {
        "PrePartition.RecordCount": sum(m["record_count"] for m in manifest),
        "PrePartition.PartitionCount": len(manifest),
    }
    if perf_journal is not None:
        for name, value in counters.items():
            perf_journal.add_reading(name, value)
    return PrePartitionResult(
        output_path=staging[0],
        manifest=manifest,
        journal=counters,
        staging_paths=staging if len(staging) > 1 else None,
    )


def _write_round_robin(
    scattered: DataFrame, staging: list[str], fmt: str, compression: str | None
) -> None:
    """One write partitioned by (staging idx, pid), then per-pid directory
    moves into the round-robin staging roots — rename, not rewrite.

    Moves go through the Hadoop ``FileSystem`` API (resolved from the path
    scheme), so they work on any store Spark can write to — local/file:,
    HDFS, s3a://, abfss:// — not just the driver's local filesystem.
    On HDFS/local the rename is a metadata op; object stores implement it
    as server-side copy+delete, still never re-reading through Spark.
    All staging roots must live on the SAME filesystem as the temp root
    (the reference's multi-staging-container layout — one storage account)
    because cross-filesystem rename is not defined.
    """
    spark = scattered.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path

    k = len(staging)
    tmp_root = staging[0].rstrip("/") + ".__kpf_staging_tmp__"
    staged = scattered.withColumn("_kpf_staging", F.pmod(F.col(PID_COL), F.lit(k)))
    writer = staged.write.mode("overwrite").partitionBy("_kpf_staging", PID_COL)
    if compression:
        writer = writer.option("compression", compression)
    getattr(writer, fmt)(tmp_root)

    tmp_path = HPath(tmp_root)
    fs = tmp_path.getFileSystem(hconf)
    try:
        for i, dest in enumerate(staging):
            src_dir = HPath(tmp_path, f"_kpf_staging={i}")
            if not fs.exists(src_dir):
                continue
            dest_path = HPath(dest)
            fs.mkdirs(dest_path)
            for status in fs.listStatus(src_dir):
                child = status.getPath()
                target = HPath(dest_path, child.getName())
                if fs.exists(target):
                    fs.delete(target, True)
                if not fs.rename(child, target):
                    raise IOError(
                        f"rename {child} -> {target} failed; are all "
                        "staging roots on the same filesystem as the "
                        "temp root?"
                    )
    finally:
        fs.delete(tmp_path, True)
