"""Idempotent ingestion sink — effectively-once semantics.

Reference: TextKustoSink queues each shard for Kusto ingestion with
``IngestByTags`` + ``IngestIfNotExists`` = ``{sourceUri}-{shardId}``
(code/KustoPreForgeLib/Text/TextKustoSink.cs:48-63), so re-processing the
same blob is a no-op: Kusto drops any ingestion whose ingest-by tag already
exists. Combined with the Service Bus at-least-once delivery
(ServiceBusServer.cs:75) this yields effectively-once ingestion
(SURVEY §2.6 delivery row).

Spark-first: a manifest table keyed by ``ingest_by`` plus a left-anti join
on arrival. The manifest is tiny relative to the data (one row per shard ≈
one row per 200 MB), so the anti-join broadcasts the manifest — no shuffle
of the incoming data. Lineage columns follow FIXTURES.md F4:
``ingest_by, kpf_original_blob, kpf_shard_id, kpf_last_shard``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("ingest_by", T.StringType(), False),
        T.StructField("kpf_original_blob", T.StringType(), True),
        T.StructField("kpf_shard_id", T.StringType(), True),
        T.StructField("kpf_last_shard", T.BooleanType(), True),
        T.StructField("record_count", T.LongType(), True),
        T.StructField("drop_by", T.StringType(), True),
        # commit wall-clock — what tag RETENTION expires on (the
        # reference's extent_tags_retention policy, templates/
        # script.kql:5-18). Legacy ledgers read it as NULL.
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)


def replay_safe_writer(df: DataFrame, *cols: str) -> DataFrameWriter:
    """``df``'s writer, partitioned by ``cols`` under dynamic partition
    overwrite: a re-run (replayed micro-batch, re-delivered blob) replaces
    exactly the partition directories it writes and leaves every other
    key's output alone — the file-level form of the ingest-by no-op
    (TextKustoSink.cs:50-51).

    The overwrite mode is a per-write option, not session conf:
    ``foreachBatch`` runs in a CLONED SparkSession whose conf snapshot
    predates any runtime ``spark.conf.set`` on the outer session."""
    return (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
    )


class IngestManifest:
    """Parquet-backed ledger of committed (source, shard) units.

    On a cluster this would be a transactional table (Delta ``txnAppId`` /
    Iceberg snapshot); plain parquet + append is sufficient for the
    at-most-once-per-key contract here because each micro-batch appends
    only keys proven absent at read time and batches are serialized
    (streaming foreachBatch runs batches in order).

    SINGLE-WRITER CONTRACT: exactly one process may mutate a given
    manifest path at a time (the posture of a streaming query's
    foreachBatch driver — batches are serialized by the engine). Crash
    recovery (``_recover``) runs on every ``read()`` and reclaims
    leftover ``.compact``/``.old`` directories; with a concurrent
    second writer mid-``drop_by_tag`` it could reclaim an IN-FLIGHT
    compact. As a safety net against exactly that misuse, recovery only
    deletes leftovers older than ``recover_grace_sec`` (default 300 s —
    far beyond any compaction write); younger leftovers are left for
    their owner to finish the swap. Concurrent multi-writer ingest needs
    the transactional-table backend above, not this ledger.
    """

    def __init__(
        self, spark: SparkSession, path: str, recover_grace_sec: float = 300.0
    ) -> None:
        self.spark = spark
        self.path = path
        self.recover_grace_sec = float(recover_grace_sec)

    def _recover(self) -> None:
        """Finish or roll back a compaction interrupted by a crash.

        ``drop_by_tag`` swaps via write ``.compact`` → rename ledger aside
        to ``.old`` → rename ``.compact`` into place → delete ``.old``.
        Any leftover marks the crash window:
        - ledger present + ``.old`` present: crash after the swap — the
          ledger is the compacted one; drop ``.old``.
        - ledger absent + ``.compact`` present: crash mid-swap — the
          compacted ledger is complete (written first); promote it.
        - ledger absent + only ``.old``: roll back to the pre-compaction
          ledger (never loses committed keys; re-drop is idempotent).
        - ledger present + only ``.compact``: compaction never began the
          swap — discard the uncommitted compact.

        When the ledger is present, leftovers are garbage ONLY under the
        single-writer contract (class docstring); the mtime grace check
        keeps a misconfigured concurrent reader from deleting another
        process's in-flight compact.
        """
        import shutil
        import time

        old, tmp = self.path + ".old", self.path + ".compact"
        if os.path.exists(self.path):
            now = time.time()
            for leftover in (old, tmp):
                if os.path.exists(leftover) and (
                    now - os.path.getmtime(leftover) > self.recover_grace_sec
                ):
                    shutil.rmtree(leftover)
            return
        if os.path.exists(tmp):
            os.rename(tmp, self.path)
            if os.path.exists(old):
                shutil.rmtree(old)
        elif os.path.exists(old):
            os.rename(old, self.path)

    def read(self) -> DataFrame:
        self._recover()
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def filter_new(self, shards: DataFrame) -> DataFrame:
        """Drop shards whose ingest_by key is already committed.

        ≡ IngestIfNotExists (TextKustoSink.cs:50-51). Broadcast anti-join:
        the manifest side is per-shard metadata, always small.
        """
        seen = self.read().select("ingest_by")
        return shards.join(F.broadcast(seen), "ingest_by", "left_anti")

    def commit(self, shards: DataFrame) -> None:
        (
            shards.select(
                "ingest_by",
                "kpf_original_blob",
                "kpf_shard_id",
                "kpf_last_shard",
                "record_count",
                "drop_by",
            )
            .withColumn("committed_at", F.current_timestamp())
            .write.mode("append")
            .parquet(self.path)
        )


def ingest_idempotent(
    data: DataFrame,
    manifest: IngestManifest,
    dest_path: str,
    source_col: str = "_kpf_source",
    shard_col: str = "_kpf_shard_id",
    last_col: str = "_kpf_last_shard",
    fmt: str = "parquet",
    drop_by: str | None = None,
) -> DataFrame:
    """Ingest sharded data, skipping shards already committed.

    Returns the shard-level manifest rows that were newly ingested.
    The data write is partitioned by the full ``ingest_by`` key and uses
    dynamic partition OVERWRITE, so a retry after a crash between the data
    write and the manifest commit replaces exactly its own shard
    directories instead of appending a second copy — the commit-last
    ordering plus replace-on-retry mirrors the reference's
    stage-blocks-then-commit-blocklist protocol
    (Transforms/PartitionedContentSink.cs:101-132) and its
    IngestIfNotExists effectively-once contract (TextKustoSink.cs:50-51).
    Partitioning on ``ingest_by`` (not the bare shard id) matters: two
    sources both have a shard "00000", and a retry of one must not clobber
    the other's directory.
    """
    with_key = data.withColumn(
        "ingest_by", F.concat_ws("-", F.col(source_col), F.col(shard_col))
    )
    shard_meta = (
        with_key.groupBy("ingest_by", source_col, shard_col)
        .agg(
            F.max(F.col(last_col)).alias("kpf_last_shard"),
            F.count(F.lit(1)).alias("record_count"),
        )
        .withColumnRenamed(source_col, "kpf_original_blob")
        .withColumnRenamed(shard_col, "kpf_shard_id")
        .withColumn("drop_by", F.lit(drop_by).cast("string"))
    )
    # Materialize the new-shard set up front: after the manifest commit the
    # anti-join would recompute to empty, so the decision must be pinned.
    # Pinned CLUSTER-side (eager localCheckpoint), never collected: one
    # manifest row per ~200 MB shard is small at any realistic batch, but
    # a 100 TB single-batch backfill is ~500k rows — the driver round-trip
    # is a ceiling the executors don't need.
    new_meta = (
        manifest.filter_new(shard_meta)
        .select(
            "ingest_by",
            "kpf_original_blob",
            "kpf_shard_id",
            "kpf_last_shard",
            "record_count",
            "drop_by",
        )
        .localCheckpoint(eager=True)
    )

    if not new_meta.isEmpty():
        new_keys = new_meta.select("ingest_by")
        new_data = with_key.join(F.broadcast(new_keys), "ingest_by", "left_semi")
        replay_safe_writer(
            new_data.drop(source_col, last_col, shard_col), "ingest_by"
        ).format(fmt).save(dest_path)
        manifest.commit(new_meta)
    return new_meta


def _swap_ledger(manifest: IngestManifest, kept: DataFrame) -> None:
    """Crash-safe ledger swap (shared by drop_by_tag and
    expire_ingest_tags): write the compacted copy, move the live ledger
    ASIDE (never a destructive delete while it is the only copy),
    promote the compacted one, then drop the old. A crash at any point
    leaves either the old or the new complete ledger on disk;
    IngestManifest._recover() finishes or rolls back the swap on the
    next read."""
    import shutil

    tmp = manifest.path + ".compact"
    old = manifest.path + ".old"
    kept.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):  # stale from a previous recovered crash
        shutil.rmtree(old)
    os.rename(manifest.path, old)
    os.rename(tmp, manifest.path)
    shutil.rmtree(old)


def expire_ingest_tags(
    manifest: IngestManifest,
    max_age_seconds: float,
    now=None,
    treat_unknown_as_expired: bool = False,
) -> int:
    """The reference's extent-tags RETENTION policy (templates/
    script.kql:5-18: ``ingest-by:`` tags expire after 2h,
    ``original-blob:`` after 4h — "it is recommended not to keep too
    many tags in a table"): drop ledger rows older than
    ``max_age_seconds``, bounding the idempotency window exactly the
    way Kusto's policy does — a blob re-landed after the window
    re-ingests (the duplicate risk the retention trade accepts), and
    the ledger stops growing without bound.

    Rows with NULL ``committed_at`` (ledgers written before the column
    existed) are KEPT by default — idempotency over storage;
    ``treat_unknown_as_expired=True`` flips that for a one-time legacy
    purge. Same crash-safe swap protocol as :func:`drop_by_tag`.
    Returns the number of expired rows. ``now`` (a timestamp or ISO
    string) pins the clock for tests/replays."""
    current = manifest.read()
    now_col = F.lit(now).cast("timestamp") if now is not None else (
        F.current_timestamp()
    )
    age_ok = F.col("committed_at") >= (
        now_col - F.expr(f"INTERVAL {int(max_age_seconds)} SECONDS")
    )
    if treat_unknown_as_expired:
        keep_cond = age_ok & F.col("committed_at").isNotNull()
    else:
        keep_cond = age_ok | F.col("committed_at").isNull()
    kept = current.filter(keep_cond)
    n_total = current.count()
    n_kept = kept.count()
    if n_kept == n_total:
        return 0
    _swap_ledger(manifest, kept)
    return n_total - n_kept


def drop_by_tag(
    manifest: IngestManifest, dest_path: str, tag: str
) -> list[str]:
    """Kusto ``.drop extents <| where tags has 'drop-by:<tag>'`` analogue
    — bulk retirement of every shard ingested under ``drop_by=tag``
    (the second extent-tag kind next to ingest-by; batch deletes of a
    bad backfill are THE drop-by use case).

    Ordering is manifest-first: the manifest forgets the shards, then
    their ``ingest_by=`` data directories are deleted. A crash in
    between leaves orphaned data that the next ingestion of the same
    shards simply overwrites (dynamic partition overwrite on the same
    key) — consistent either way. The reverse order would strand
    manifest rows pointing at deleted data, which would WRONGLY block
    re-ingestion. Returns the dropped ingest_by keys.
    """
    import shutil
    from urllib.parse import quote

    current = manifest.read()
    dropped = [
        r["ingest_by"]
        for r in current.filter(F.col("drop_by") == tag)
        .select("ingest_by")
        .collect()  # bounded: shard-level metadata only
    ]
    if not dropped:
        return []
    kept = current.filter(
        F.col("drop_by").isNull() | (F.col("drop_by") != tag)
    )
    _swap_ledger(manifest, kept)
    for key in dropped:
        # partition dirs URL-encode special chars (Spark's escapePathName)
        d = os.path.join(dest_path, f"ingest_by={quote(key, safe='')}")
        if os.path.exists(d):
            shutil.rmtree(d)
        else:
            d2 = os.path.join(dest_path, f"ingest_by={key}")
            if os.path.exists(d2):
                shutil.rmtree(d2)
    return dropped
