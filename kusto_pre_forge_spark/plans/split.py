"""The Split pipeline — size-capped sharding with header propagation.

Reference (dormant but fully specified, SURVEY §3.3):

    TextSource (stream+decompress) → TextLineParsingSink (cut at \\n, peel
    header) → TextPartitionSink (2*cores+1 shard writers, shard counter
    "00000") → TextStreamSinkBase (cap shard at MaxBytesPerShard, gzip) →
    TextBlobSink / TextKustoSink (ingest-by tags)

    files: code/KustoPreForgeLib/Text/TextSource.cs:19-108,
    TextLineParsingSink.cs:10-100, TextPartitionSink.cs:13-58,
    TextStreamSinkBase.cs:16-103, TextBlobSink.cs:15-46, TextKustoSink.cs:14-73

Spark-first: line framing and decompression are the text reader; shard
assignment is a per-source cumulative byte count (each record goes to shard
``floor(bytes_before_record / max_bytes)``) — the deterministic, testable
form of "seal the shard when the byte counter crosses the cap"
(TextStreamSinkBase.cs:55-63). The reference caps *compressed* bytes; we cap
uncompressed bytes (declared approximation, SURVEY §7 "What's hard" — no
reference test requires compressed-byte exactness).

Scale: the cumulative byte count is a two-phase distributed prefix sum —
per-file-split subtotals, an exclusive prefix over that tiny aggregate,
then within-split running sums in parallel — so a single huge blob is
sharded by ALL its splits' tasks, not serialized onto one reducer (see
prefix_bases and shard_assign). Across blobs it is embarrassingly
parallel, and no window ever partitions on the bare source column. No
driver-side iteration over rows.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kusto_pre_forge_spark.config import DataFormat, RunSettings
from kusto_pre_forge_spark.sinks.manifest import replay_safe_writer
from kusto_pre_forge_spark.sources.blob import SOURCE_COL, load_landing

SHARD_COL = "_kpf_shard_id"
LAST_SHARD_COL = "_kpf_last_shard"
ORDER_COL = "_kpf_order"
BLOCK_COL = "_kpf_block_start"


def read_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Read newline-framed records with source lineage and in-file order.

    The txt landing of :func:`~kusto_pre_forge_spark.sources.blob.load_landing`
    (``Text`` + ``_kpf_source``) plus the order and block columns.
    ≡ TextSource + TextLineParsingSink framing (the reader already cuts at
    newlines and handles a trailing unterminated record — which the live
    reference parser drops, SURVEY §4.3 #3; intended semantics keep it).
    ``_kpf_order`` is ``monotonically_increasing_id`` — increasing along each
    file because splits are assigned in offset order, giving a stable
    record order per source.
    """
    return (
        load_landing(spark.read, paths, DataFormat.TXT)
        .withColumn(ORDER_COL, F.monotonically_increasing_id())
        # real in-file byte offset of the enclosing split: the cross-split
        # ordering key for the distributed prefix sum. spark_partition_id
        # would only work while FilePartition packing happens to preserve
        # offset order (it sorts splits length-DESCENDING, so that's an
        # accident of equal-sized splits, not a contract).
        .withColumn(BLOCK_COL, F.col("_metadata.file_block_start"))
    )


def peel_header(lines: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split off each source's first line as its header.

    ≡ TextLineParsingSink.cs:56-71 (capture first line when
    ``propagateHeader``, remove it from the stream, hand it to the sink
    factory). Returns (headers: source→header, body).
    """
    # min-per-source as a map-side-combinable aggregate broadcast back, NOT
    # a `Window.partitionBy(source)` — that window would shuffle every row
    # of a blob onto one reducer and strip the scan's split parallelism
    # from everything downstream (shard_assign depends on it).
    firsts = lines.groupBy(SOURCE_COL).agg(F.min(ORDER_COL).alias("_kpf_first"))
    flagged = lines.join(F.broadcast(firsts), SOURCE_COL).withColumn(
        "_first", F.col(ORDER_COL) == F.col("_kpf_first")
    )
    headers = flagged.filter("_first").select(SOURCE_COL, F.col("Text").alias("header"))
    body = flagged.filter(~F.col("_first")).drop("_first", "_kpf_first")
    return headers, body


def prefix_bases(
    t: DataFrame,
    key: str,
    subtotals: dict[str, Column],
    by: Sequence[str] = (),
) -> DataFrame:
    """Join each row of ``t`` to the exclusive prefix of its group's subtotals.

    The middle of every two-phase distributed prefix sum here: group ``t``
    by ``(*by, key)`` into the named ``subtotals`` aggregates, sum each
    one over the preceding ``key`` values within its ``by`` group (0 for
    the first), and broadcast-join those bases back onto ``t`` under the
    same names. The caller finishes with a running sum inside each
    ``(*by, key)`` group.

    The window runs over the subtotal table (one row per group), never
    over data rows; with ``by=()`` it is a single-partition window fed by
    an aggregate. Callers keep ``key`` bounded: input splits, hash buckets
    or partition ids.
    """
    keys = [*by, key]
    sums = t.groupBy(*keys).agg(*(c.alias(name) for name, c in subtotals.items()))
    w = Window.partitionBy(*by).orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
    bases = sums.select(
        *keys,
        *(F.coalesce(F.sum(name).over(w), F.lit(0)).alias(name) for name in subtotals),
    )
    return t.join(F.broadcast(bases), keys)


def shard_assign(
    body: DataFrame,
    max_bytes_per_shard: int,
    text_col: str = "Text",
    order_col: str = ORDER_COL,
) -> DataFrame:
    """Assign a zero-padded shard id per record, per source.

    Record cost = UTF-8 bytes + 1 for the newline the writer re-adds
    (TextStreamSinkBase writes fragment + the framing byte). Shard id is
    ``floor(cumulative_bytes_before / cap)`` over in-file order — every
    shard except the last holds ≥1 record and ≤ cap+one-record bytes,
    matching the reference's "seal after crossing the cap" loop
    (TextStreamSinkBase.cs:55-63). Formatting "00000" per
    TextPartitionSink.cs:53. Also marks ``_kpf_last_shard``
    (TextKustoSink.cs:60-63 informational tag).

    Precondition: ``body`` came from ``read_lines`` (possibly through
    ``peel_header`` / other narrow ops): it carries ``_kpf_block_start``
    (the enclosing split's in-file byte offset) and ``order_col`` is
    monotone within each scan partition (``monotonically_increasing_id``).
    Re-deriving the order column after a repartition breaks the
    (split, order) agreement the distributed prefix sum relies on.
    """
    # Distributed prefix sum. A single window `partitionBy(source)
    # orderBy(order)` would gather EVERY row of a blob onto one reducer —
    # the per-source cumulative count would serialize a 1 TB blob onto a
    # single task at 100 TB. Instead, the two-phase form: each (source,
    # input split) gets its base byte offset from `prefix_bases` (one
    # subtotal row per file split, O(data / maxPartitionBytes) rows), then
    # the within-split running sum is a window partitioned by (source,
    # split) — parallel across splits.
    # Cross-split order comes from the split's REAL in-file byte offset
    # (_metadata.file_block_start captured by read_lines) — robust to
    # FilePartition packing order, which sorts splits length-descending
    # and so does NOT guarantee partition ids follow file offsets.
    rec_bytes = F.octet_length(F.col(text_col)) + F.lit(1)
    if BLOCK_COL in body.columns:
        t = body.withColumn("_kpf_split", F.col(BLOCK_COL))
    else:
        # non-file inputs (unit tests, synthesized frames): fall back to the
        # physical partition id, valid when order_col's high bits encode it
        t = body.withColumn("_kpf_split", F.spark_partition_id())

    t = prefix_bases(
        t, "_kpf_split", {"_kpf_base": F.sum(rec_bytes)}, by=[SOURCE_COL]
    )
    w_in = Window.partitionBy(SOURCE_COL, "_kpf_split").orderBy(order_col)
    cum_before = F.col("_kpf_base") + F.sum(rec_bytes).over(w_in) - rec_bytes
    shard_num = F.floor(cum_before / F.lit(max_bytes_per_shard)).cast("int")
    df = t.withColumn("_kpf_shard_num", shard_num).drop("_kpf_split", "_kpf_base")

    # last-shard flag via a per-source max aggregate (broadcast back) —
    # same reasoning: never a whole-source window over data rows
    last = df.groupBy(SOURCE_COL).agg(F.max("_kpf_shard_num").alias("_kpf_max_shard"))
    return (
        df.join(F.broadcast(last), SOURCE_COL)
        .withColumn(SHARD_COL, F.format_string("%05d", F.col("_kpf_shard_num")))
        .withColumn(
            LAST_SHARD_COL, F.col("_kpf_shard_num") == F.col("_kpf_max_shard")
        )
        .drop("_kpf_shard_num", "_kpf_max_shard", BLOCK_COL)
    )


def keyed_shard_assign(
    df: DataFrame,
    order_cols: list[str],
    bucket: Column,
    rec_bytes: Column,
    max_bytes_per_shard: int,
    shard_col: str = "shard_id",
    num_partitions: int | None = None,
    start_col: str | None = None,
) -> DataFrame:
    """Global-order shard assignment via a deterministic bucketed prefix sum.

    Same two-phase shape as ``shard_assign`` (TextStreamSinkBase.cs:55-63
    cap-and-seal semantics), but keyed on a DATA-derived bucket instead of
    the physical input split, so an external SQL engine can replay it. The
    caller guarantees bucket boundaries respect ``order_cols`` order (every
    row of bucket i sorts before every row of bucket i+1); the result then
    equals the single global window ``floor(cum_bytes_before / cap)``
    without ever gathering the table onto one reducer.

    ``prefix_bases`` gives each bucket its base offset (one subtotal row
    per bucket, so keep the bucket count bounded); the within-bucket
    running sum is then a window partitioned by bucket — parallel across
    buckets.
    """
    t = df.withColumn("_kpf_bucket", bucket).withColumn("_kpf_rec_bytes", rec_bytes)
    # One explicit hash exchange on the bucket key, reused by the subtotal
    # aggregate AND the within-bucket window (both need clustering on
    # _kpf_bucket). The explicit count also defeats the AQE byte-based
    # coalescer, which would funnel this small-bytes-per-row
    # shuffle into one task and serialize the sort.
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    t = t.repartition(n_parts, "_kpf_bucket")
    t = prefix_bases(t, "_kpf_bucket", {"_kpf_base": F.sum("_kpf_rec_bytes")})
    w_in = Window.partitionBy("_kpf_bucket").orderBy(*order_cols)
    cum_before = (
        F.col("_kpf_base")
        + F.sum("_kpf_rec_bytes").over(w_in)
        - F.col("_kpf_rec_bytes")
    )
    if start_col is not None:
        # expose the exclusive running total itself (`sequence_pack` needs
        # the token offset, not just the shard id)
        t = t.withColumn(start_col, cum_before.cast("long"))
        cum_before = F.col(start_col)
    return t.withColumn(
        shard_col, F.floor(cum_before / F.lit(max_bytes_per_shard)).cast("int")
    ).drop("_kpf_bucket", "_kpf_base", "_kpf_rec_bytes")


@dataclass
class SplitResult:
    output_path: str
    shards: list[dict]  # per-shard lineage rows (F4 manifest shape)
    #: per-run counter sums ≡ PerfCounterJournal output
    #: (code/KustoPreForgeLib/PerfCounterJournal.cs:10-72); counter names
    #: reuse the reference's where the concept maps 1:1
    journal: dict[str, int] | None = None
    #: set (and ``shards`` left empty) when the shard count exceeded the
    #: driver-side manifest cap — the full manifest then lives as parquet
    #: at this path instead of in driver memory
    manifest_path: str | None = None


def run_split(
    spark: SparkSession,
    paths: list[str] | str,
    settings: RunSettings,
    output_path: str,
    max_bytes_per_shard: int | None = None,
    perf_journal=None,
    max_manifest_rows: int = 1_000_000,
) -> SplitResult:
    """End-to-end Split: read → (peel header) → shard → write shards.

    Output layout: ``{output_path}/{SOURCE_COL}=.../{SHARD_COL}=NNNNN/``
    text files (gzip per ``settings.output_compression``), the directory
    form of ``{destName}-{shardId}.txt[.gz]`` (TextBlobSink.cs:29-34).
    When headers propagate, each shard file begins with the source's
    header line exactly once (TextStreamSinkBase.cs:49-53).

    The per-shard manifest is collected to the driver only up to
    ``max_manifest_rows`` (a 100 TB run at 200 MB/shard is ~5×10⁵ shards
    — fine; a mis-capped run could produce orders of magnitude more and
    OOM the driver). Over the cap, the full manifest is written as
    parquet under ``{output_path}/_kpf_manifest`` instead and
    ``SplitResult.manifest_path`` points at it; journal counters are
    computed distributively either way.
    """
    from kusto_pre_forge_spark.config import Compression

    cap = max_bytes_per_shard or settings.max_bytes_per_shard
    lines = read_lines(spark, paths)
    if settings.csv_headers:
        headers, body = peel_header(lines)
    else:
        headers, body = None, lines
    sharded_body = shard_assign(body, cap).persist()
    sharded = sharded_body

    manifest_df = (
        sharded.groupBy(SOURCE_COL, SHARD_COL)
        .agg(
            F.max(LAST_SHARD_COL).alias(LAST_SHARD_COL),
            F.count(F.lit(1)).alias("record_count"),
            # record bytes + the newline the writer re-adds — the sink's
            # Write.Size reading (PartitionedContentSink.cs:113-115)
            F.sum(F.octet_length("Text") + F.lit(1)).alias("byte_count"),
        )
        .withColumn("ingest_by", F.concat_ws("-", F.col(SOURCE_COL), F.col(SHARD_COL)))
    )
    manifest = manifest_df.limit(max_manifest_rows + 1).collect()
    manifest_path = None
    if len(manifest) > max_manifest_rows:
        # too many shards for driver memory: keep the manifest distributed
        manifest_path = f"{output_path.rstrip('/')}/_kpf_manifest"
        manifest_df.write.mode("overwrite").parquet(manifest_path)
        manifest = []

    if headers is not None:
        # one header row per (source, shard), ordered before all records
        shard_keys = sharded.select(SOURCE_COL, SHARD_COL).distinct()
        header_rows = (
            shard_keys.join(headers, SOURCE_COL)
            .select(
                F.col("header").alias("Text"),
                SOURCE_COL,
                F.lit(-1).cast("long").alias(ORDER_COL),
                SHARD_COL,
                F.lit(False).alias(LAST_SHARD_COL),
            )
        )
        sharded = sharded.select(*header_rows.columns).unionByName(header_rows)

    # partition directories use the source *basename* (the reference names
    # shards "{destName}-{shardId}" next to the destination prefix,
    # TextBlobSink.cs:29-34); full URIs stay in the manifest's ingest_by key.
    src_name = F.element_at(F.split(F.col(SOURCE_COL), "/"), -1).alias("_kpf_src_name")
    # a re-run replaces exactly its own (source, shard) directories, never
    # other sources' output
    writer = replay_safe_writer(
        sharded.withColumn("_kpf_src_name", src_name)
        .repartition(F.col("_kpf_src_name"), F.col(SHARD_COL))
        .sortWithinPartitions("_kpf_src_name", SHARD_COL, ORDER_COL)
        .select("Text", "_kpf_src_name", SHARD_COL),
        "_kpf_src_name",
        SHARD_COL,
    )
    if settings.output_compression == Compression.GZIP:
        writer = writer.option("compression", "gzip")
    writer.text(output_path)
    shards = [r.asDict() for r in manifest]
    if manifest_path is None:
        counters = {
            # same counter names as the reference where the concept maps 1:1
            "ListBlob.BlobCommited": len({s[SOURCE_COL] for s in shards}),
            "PartitionedContentSink.Write.Size": sum(s["byte_count"] for s in shards),
            "TextSplit.RecordCount": sum(s["record_count"] for s in shards),
            "TextSplit.ShardsSealed": len(shards),
        }
    else:
        # over-cap path: counters from one distributed aggregate over the
        # written manifest (bounded: a single 4-column row comes back)
        row = (
            spark.read.parquet(manifest_path)
            .agg(
                F.countDistinct(SOURCE_COL).alias("nsrc"),
                F.sum("byte_count").alias("bytes"),
                F.sum("record_count").alias("recs"),
                F.count(F.lit(1)).alias("nshards"),
            )
            .collect()[0]
        )
        counters = {
            "ListBlob.BlobCommited": int(row["nsrc"]),
            "PartitionedContentSink.Write.Size": int(row["bytes"]),
            "TextSplit.RecordCount": int(row["recs"]),
            "TextSplit.ShardsSealed": int(row["nshards"]),
        }
    sharded_body.unpersist()
    if perf_journal is not None:
        for name, value in counters.items():
            perf_journal.add_reading(name, value)
    return SplitResult(
        output_path=output_path,
        shards=shards,
        journal=counters,
        manifest_path=manifest_path,
    )
