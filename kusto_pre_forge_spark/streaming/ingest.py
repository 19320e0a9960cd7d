"""Continuous (streaming) ETL mode.

Reference: the Service Bus server turns the batch tool into a continuous
service — Event Grid blob-created events feed a queue; the server long-polls
(1-min receive), runs one ETL per arriving blob, renews the message lock
every 20 s, and completes the message only after success → at-least-once,
made effectively-once by ingest-by tags
(code/KustoPreForgeServiceBus/ServiceBusServer.cs:13-94;
SURVEY §2.6, §3.2). The sink flushes on ≥1-minute wall-clock boundaries
(Transforms/PartitionedContentSink.cs:166-174, EtlRun.cs:136).

Spark-first mapping:

- queue of blob-created events  → Structured Streaming *file source* on the
  landing directory (exactly-once listing via the checkpointed file log —
  stronger than the reference's at-least-once queue)
- 1-min poll / flush interval   → ``trigger(processingTime="60 seconds")``
- message completion            → checkpoint commit after each micro-batch
- per-blob ETL + ingest-by tags → ``foreachBatch`` running one per-batch
  function whose write is replay-safe (dynamic partition overwrite keyed by
  batch or source file, or the idempotent manifest sink), so a replayed
  batch (crash between write and checkpoint) is a no-op
- lock renewal                  → obsolete: no lease to keep alive
- backlog catch-up              → ``Trigger.AvailableNow`` (SURVEY §2.6)

One loop, :meth:`StreamingEtl.start`, runs any ``process(batch_df,
batch_id)``. The reference's own ETLs have named entry points
(``start_prepartition``, ``start_split``, ``start_idempotent_ingest``);
every other mode is a ``*_batch`` method bound with ``functools.partial``:

- admission into a batch-partitioned corpus store: ``dedup_ingest_batch``
  (MinHash near-dup), ``exact_substr_ingest_batch`` (k-token windows),
  ``semdedup_ingest_batch`` (embeddings), ``dsir_ingest_batch``
  (importance), ``blocklist_ingest_batch`` (URL domain),
  ``robots_ingest_batch`` (robots.txt), ``classifier_ingest_batch``
  (quality model);
- source-file-keyed outputs: ``corpus_stats_batch`` (vocabulary/IDF
  deltas), ``ann_index_batch`` (IVF-PQ index), ``webdataset_ingest_batch``
  (tar shards).

Landings: ``fmt`` names a ``DataFormat`` (``"text"`` for txt), read by
``sources.blob.load_landing`` — the one format → Spark source dispatch that
bulk ``read_landing`` and Split's ``read_lines`` also use, so a blob parses
the same whether it arrives in bulk or streams in: csv/tsv/psv, text (one
``Text`` column), json, parquet, orc. ``_BINARY_LANDINGS`` formats (warc,
pdf, docx, auto) go through ``binaryFile`` and the batch parsers.

Scale: each micro-batch is a normal batch plan over the newly arrived
files; ``maxFilesPerTrigger`` bounds batch size (the reference's 100 MB
memory budget analogue — backpressure by admission, EtlRun.cs:27).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kusto_pre_forge_spark.catalog import PartitionPolicy
from kusto_pre_forge_spark.config import Compression, DataFormat, RunSettings
from kusto_pre_forge_spark.plans.prepartition import PID_COL, prepartition, scatter
from kusto_pre_forge_spark.sinks.manifest import IngestManifest, replay_safe_writer
from kusto_pre_forge_spark.sources.autoextract import extract_text_blobs
from kusto_pre_forge_spark.sources.blob import SOURCE_COL, load_landing
from kusto_pre_forge_spark.sources.docx import parse_docx_blobs
from kusto_pre_forge_spark.sources.pdf import parse_pdf_blobs
from kusto_pre_forge_spark.sources.warc import parse_warc_blobs

# binaryFile landings: fmt → (pathGlobFilter, parser). The record decode is
# the same pure map stage the batch reader uses; rows have the parser's
# fixed shape (lineage in _kpf_source), so the declared schema is ignored.
# "auto" is a mixed dump: every blob is magic-byte sniffed and routed to
# its extractor (PDF/DOCX/notebook/WARC/html/text).
_BINARY_LANDINGS = {
    "warc": ("*.warc*", parse_warc_blobs),
    "pdf": ("*.pdf", parse_pdf_blobs),
    "docx": ("*.docx", parse_docx_blobs),
    "auto": ("*", extract_text_blobs),
}


def _by_file(batch_df: DataFrame, id_col: str) -> DataFrame:
    """Key each row by its landing file (``_kpf_file`` = md5 of the path,
    16 hex chars) and dedupe ids PER FILE. File keys are stable across ANY
    replay — same checkpoint (crash) or a rebuilt one (lost state,
    different file→batch packing) — while batch ids renumber when a
    checkpoint is lost, so they never key anything here. The dedup is per
    file, not per batch, so that a file's output is a pure function of that
    file alone: a repacked replay (doc in two files, different file→batch
    packing) rewrites identical partition content and never
    double-counts."""
    fkey = F.substring(F.md5(F.col(SOURCE_COL)), 1, 16)
    return batch_df.withColumn("_kpf_file", fkey).dropDuplicates([id_col, "_kpf_file"])


def _write_by_file(out: DataFrame, out_dir: str) -> int:
    """Write ``out`` under one partition per ``_kpf_file``; returns its row
    count (persisted so the count does not recompute the plan)."""
    out.persist()
    try:
        replay_safe_writer(out, "_kpf_file").parquet(out_dir)
        return out.count()
    finally:
        out.unpersist()


class StreamingEtl:
    """File-arrival continuous ETL over a landing directory."""

    def __init__(
        self,
        spark: SparkSession,
        landing_dir: str,
        checkpoint_dir: str,
        output_dir: str,
        schema,
        fmt: str = "csv",
        csv_headers: bool = True,
        max_files_per_trigger: int | None = 16,
    ) -> None:
        self.spark = spark
        self.landing_dir = landing_dir
        self.checkpoint_dir = checkpoint_dir
        self.output_dir = output_dir
        self.schema = schema
        self.fmt = fmt
        self.csv_headers = csv_headers
        self.max_files_per_trigger = max_files_per_trigger

    def _source(self) -> DataFrame:
        reader = self.spark.readStream
        if self.max_files_per_trigger:
            # admission control ≡ the reference's bounded memory budget
            # (16 concurrent downloads, DownloadBlobTransform.cs:10)
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        if self.fmt in _BINARY_LANDINGS:
            glob, parse = _BINARY_LANDINGS[self.fmt]
            # streaming file sources need an explicit schema — binaryFile's
            # is fixed by the format
            breader = (
                reader.format("binaryFile")
                .schema(
                    "path string, modificationTime timestamp, "
                    "length long, content binary"
                )
                .option("pathGlobFilter", glob)
            )
            return parse(breader.load(self.landing_dir))

        # "text" is the streaming spelling of DataFormat.TXT
        fmt = DataFormat.TXT if self.fmt == "text" else DataFormat(self.fmt)
        return load_landing(
            reader, self.landing_dir, fmt, self.csv_headers, self.schema
        )

    def start(
        self,
        process: Callable[[DataFrame, int], object],
        trigger_seconds: int | None = 60,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Run ``process(batch_df, batch_id)`` on every micro-batch of newly
        landed blobs — the reference's one-ETL-per-queue-message loop
        (ServiceBusServer.cs:26-39); the checkpoint commit after each batch
        is the message completion.

        ``trigger_seconds=60`` mirrors the reference's flush interval
        (EtlRun.cs:136), ``None`` runs batches back to back;
        ``available_now=True`` drains the backlog and stops (catch-up
        mode). Any ``*_batch`` method is a ``process`` once its store
        arguments are bound::

            etl.start(partial(etl.dedup_ingest_batch, corpus_dir=d),
                      available_now=True)
        """
        writer = (
            self._source()
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def start_prepartition(
        self,
        policy: PartitionPolicy,
        trigger_seconds: int | None = 60,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Continuous PrePartition: each micro-batch hash-partitions newly
        arrived blobs and appends them under pid directories.

        Replay safety: the checkpointed file log replays a crashed batch
        with the SAME batch id and the same input files, so the write is
        keyed by ``(pid, batch_id)`` under dynamic partition overwrite — a
        replayed batch replaces exactly its own partition directories
        instead of appending a second copy (effectively-once, ≡ the
        ingest-by no-op in the batch sink, TextKustoSink.cs:50-51), one
        file each: the scatter is unsalted.
        """

        def process(batch_df: DataFrame, batch_id: int) -> None:
            with_pid = prepartition(batch_df.drop(SOURCE_COL), policy).withColumn(
                "_kpf_batch", F.lit(batch_id)
            )
            replay_safe_writer(
                scatter(with_pid), PID_COL, "_kpf_batch"
            ).parquet(self.output_dir)

        return self.start(process, trigger_seconds, available_now)

    def start_split(
        self,
        max_bytes_per_shard: int,
        output_compression=None,
        trigger_seconds: int | None = 60,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Continuous Split: each micro-batch re-runs the batch Split plan
        over the newly arrived blobs.

        The batch DataFrame is used only to discover the arrived files —
        the Split plan re-reads them directly, so shard assignment sees
        whole blobs regardless of micro-batch slicing. ``run_split``
        writes per-(source, shard) partition dirs through
        ``replay_safe_writer``, so a replayed blob rewrites exactly its own
        shards (idempotent by construction, ≡ ingest-by tags).
        """
        from kusto_pre_forge_spark.plans.split import run_split

        settings = RunSettings(
            csv_headers=self.csv_headers,
            output_compression=output_compression or Compression.NONE,
        )

        def process(batch_df: DataFrame, batch_id: int) -> None:
            paths = [r[0] for r in batch_df.select(SOURCE_COL).distinct().collect()]
            if not paths:
                return
            run_split(self.spark, paths, settings, self.output_dir, max_bytes_per_shard)

        return self.start(process, trigger_seconds, available_now)

    def start_idempotent_ingest(
        self,
        manifest_path: str,
        trigger_seconds: int | None = 60,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Continuous ingest with ingest-by idempotency: one shard per
        source blob per batch, skipped if its key was already committed
        (≡ IngestByTags/IngestIfNotExists, TextKustoSink.cs:48-63)."""
        manifest = IngestManifest(self.spark, manifest_path)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            from kusto_pre_forge_spark.sinks.manifest import ingest_idempotent

            sharded = batch_df.withColumn("_kpf_shard_id", F.lit("00000")).withColumn(
                "_kpf_last_shard", F.lit(True)
            )
            ingest_idempotent(sharded, manifest, self.output_dir)

        return self.start(process, trigger_seconds, available_now)

    def _history(self, store_dir: str, batch_id: int, schema) -> DataFrame:
        """A batch-partitioned store MINUS this batch's own partition, or an
        empty frame of ``schema`` while the store holds no data file yet.
        The probe globs for partition data files, not the directory: an
        empty batch write leaves the directory with ``_SUCCESS`` only, and
        a crash in the first write leaves only a hidden staging directory
        — Spark cannot infer a schema from either.

        Excluding the own partition (``_kpf_batch != batch_id``) is what
        makes admission replay-safe: on replay after a crash between write
        and checkpoint commit, the batch's own half-written rows are
        invisible to the decision, which therefore reproduces the original
        accept set bit-for-bit instead of rejecting every row as a
        duplicate of itself."""
        files = self.spark._jvm.org.apache.hadoop.fs.Path(
            f"{store_dir}/_kpf_batch=*/*.parquet"
        )
        conf = self.spark._jsc.hadoopConfiguration()
        if not files.getFileSystem(conf).globStatus(files):  # no data yet
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.parquet(store_dir)
            .filter(F.col("_kpf_batch") != batch_id)
            .drop("_kpf_batch")
        )

    def _admit(
        self,
        batch_df: DataFrame,
        batch_id: int,
        store_dir: str,
        id_col: str,
        gate: Callable[[DataFrame], DataFrame],
    ) -> int:
        """The admission step every corpus-store mode shares: dedupe the
        batch on ``id_col`` (lineage dropped), apply the mode's
        ``gate(batch) -> accepted``, and write the accepted rows to the
        store's ``_kpf_batch=<batch_id>`` partition — dynamic overwrite, so
        a replayed batch replaces exactly its own partition. Returns the
        number of rows the batch's partition holds (0 for an empty
        batch)."""
        batch = batch_df.drop(SOURCE_COL).dropDuplicates([id_col])
        if not batch.head(1):
            return 0
        accepted = gate(batch).withColumn("_kpf_batch", F.lit(batch_id))
        replay_safe_writer(accepted, "_kpf_batch").parquet(store_dir)
        return (
            self.spark.read.parquet(store_dir)
            .filter(F.col("_kpf_batch") == batch_id)
            .count()
        )

    def dedup_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        corpus_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        **dedup_kwargs,
    ) -> int:
        """One micro-batch of near-dup-controlled corpus ingestion — the
        production shape the incremental MinHash pieces were built for:
        the arrived docs are deduplicated against everything already
        accepted (``minhash_lsh_pairs_incremental`` — cost scales with the
        batch, the corpus never re-pairs itself) and only novel docs are
        appended to the corpus store. First arrival wins: once a doc is in
        the corpus, later near-dups are dropped; within a batch the min-id
        (or highest-priority) copy survives. Returns the number of
        accepted docs.

        Replay safety: the store is batch-partitioned with dynamic
        overwrite and the corpus read excludes the current batch's
        partition (:meth:`_history`), so a crash replay (same
        ``batch_id``, same input) reproduces the original accept set."""
        from kusto_pre_forge_spark.operators.dedup import incremental_dedup_accept

        def gate(batch: DataFrame) -> DataFrame:
            corpus = self._history(corpus_dir, batch_id, batch.schema)
            return incremental_dedup_accept(
                corpus, batch, text_col, id_col, **dedup_kwargs
            )

        return self._admit(batch_df, batch_id, corpus_dir, id_col, gate)

    def exact_substr_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        corpus_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        window_tokens: int = 8,
        max_dup_windows: int = 0,
    ) -> int:
        """One micro-batch of SPAN-granularity admission: admit a document
        only when its k-token windows are (mostly) unseen — the
        span-granularity sibling of :meth:`dedup_ingest_batch` (Lee et al.,
        ACL 2022: repeated SUBSTRINGS drive memorization, so the admission
        key is windows, not whole-document similarity). Arriving docs'
        window hashes probe the corpus WINDOW STORE (``{corpus_dir}/wins``
        — persisted 16-byte keys, so the corpus text is never re-tokenized
        per trigger); a doc with more than ``max_dup_windows`` foreign
        windows (in-store, or owned by a smaller-id batch doc) is dropped.
        Accepted docs land in ``{corpus_dir}/docs`` and their windows
        extend the store.

        Replay safety is the family contract: BOTH stores are
        batch-partitioned with dynamic overwrite, and both reads exclude
        the current batch's partition, so a crash replay reproduces the
        original accept set bit-for-bit."""
        from kusto_pre_forge_spark.operators.dedup import (
            incremental_substr_accept,
            window_hash_frame,
        )

        docs_dir, wins_dir = f"{corpus_dir}/docs", f"{corpus_dir}/wins"

        def gate(batch: DataFrame) -> DataFrame:
            corpus_wins = self._history(wins_dir, batch_id, "h string").select("h")
            return incremental_substr_accept(
                corpus_wins,
                batch,
                text_col,
                id_col,
                window_tokens=window_tokens,
                max_dup_windows=max_dup_windows,
            )

        n = self._admit(batch_df, batch_id, docs_dir, id_col, gate)
        if not n:
            return 0
        new_wins = window_hash_frame(
            self.spark.read.parquet(docs_dir).filter(F.col("_kpf_batch") == batch_id),
            text_col,
            id_col,
            window_tokens,
        ).select("h").distinct().withColumn("_kpf_batch", F.lit(batch_id))
        replay_safe_writer(new_wins, "_kpf_batch").parquet(wins_dir)
        return n

    def semdedup_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        corpus_dir: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        **sem_kwargs,
    ) -> int:
        """One micro-batch of embedding-space admission — the SemDeDup
        twin of :meth:`dedup_ingest_batch`: arrived vectors are admitted
        through ``incremental_semdedup_accept`` against the accepted
        corpus; first arrival wins, cells are frozen geometry, cost scales
        with the batch's touched cells. Same replay-safety contract
        (batch-partitioned store, own-partition-excluding corpus read).
        Pass FROZEN ``centroids`` in ``sem_kwargs`` for production (the
        streaming ANN index's frozen-artifact rule); the lowest-id
        fallback shifts as the corpus grows."""
        from kusto_pre_forge_spark.operators.dedup import incremental_semdedup_accept
        from kusto_pre_forge_spark.operators.similarity import cell_assign

        # with FROZEN centroids the store persists each row's cell, so
        # admission never re-scores the corpus (batch-shaped per-trigger
        # cost); without them geometry shifts per batch → no stored cells
        centroids = sem_kwargs.get("centroids")

        def gate(batch: DataFrame) -> DataFrame:
            store_schema = (
                batch.schema
                if centroids is None
                else batch.withColumn("cell", F.lit(0)).schema
            )
            corpus = self._history(corpus_dir, batch_id, store_schema)
            accepted = incremental_semdedup_accept(
                corpus, batch, vec_col, id_col, **sem_kwargs
            )
            if centroids is None:
                return accepted
            return cell_assign(
                accepted,
                id_col=id_col,
                vec_col=vec_col,
                n_cells=sem_kwargs.get("n_cells", 16),
                centroids=centroids,
            ).drop("cell_score")

        return self._admit(batch_df, batch_id, corpus_dir, id_col, gate)

    def dsir_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        corpus_dir: str,
        logratio: DataFrame,
        threshold: float,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 8192,
        salt: str = "kpf-dsir",
    ) -> int:
        """One micro-batch of importance-filtered ingestion: score each
        landed document against a FROZEN DSIR log-ratio table
        (``logratio`` = :func:`~kusto_pre_forge_spark.operators.corpus.
        dsir_logratio` output, trained offline — the frozen-artifact rule
        the ANN index and SemDeDup paths follow) and admit documents with
        ``dsir_logw >= threshold`` — the train-on-target, filter-at-ingest
        recipe (Xie et al. 2023) as a streaming admission valve.

        Unlike the dedup admissions, the decision is a PURE function of
        the document and the frozen table — no corpus read at any batch,
        so replay after a crash reproduces the accept set bit-for-bit by
        construction; the store write is batch-partitioned dynamic
        overwrite like the other admission paths."""
        from kusto_pre_forge_spark.operators.corpus import dsir_weights

        def gate(batch: DataFrame) -> DataFrame:
            return dsir_weights(
                batch,
                logratio,
                text_col=text_col,
                id_col=id_col,
                n_buckets=n_buckets,
                salt=salt,
            ).filter(F.col("dsir_logw") >= float(threshold))

        return self._admit(batch_df, batch_id, corpus_dir, id_col, gate)

    def blocklist_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        corpus_dir: str,
        blocklist: DataFrame,
        url_col: str = "url",
        id_col: str = "doc_id",
        domain_col: str = "domain",
    ) -> int:
        """One micro-batch of URL-blocklist-gated ingestion: landed
        documents whose URL host matches a blocked domain at ANY label
        depth (suffix at a label boundary) are refused at the door (the
        crawl-hygiene gate C4/Gopher apply before any text filter —
        cheapest first). Like the DSIR admission, the decision is a PURE
        function of the document and the FROZEN blocklist — no corpus read
        per batch, so crash replay reproduces the accept set by
        construction."""
        from kusto_pre_forge_spark.operators.textprep import domain_blocklist_filter

        def gate(batch: DataFrame) -> DataFrame:
            return domain_blocklist_filter(
                batch, url_col, blocklist, domain_col=domain_col
            )

        return self._admit(batch_df, batch_id, corpus_dir, id_col, gate)

    def robots_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        corpus_dir: str,
        rules: DataFrame,
        url_col: str = "url",
        id_col: str = "doc_id",
        agent: str = "*",
    ) -> int:
        """One micro-batch of robots.txt-gated ingestion (RFC 9309):
        landed documents whose URL the FROZEN rule table (the output of
        ``robots.robots_rules``, captured at stream start — the frozen-
        artifact admission convention) disallows for ``agent`` are
        refused at the door. Like the blocklist gate, the decision is a
        pure function of the document and the frozen rules — no corpus
        read per batch, crash replay reproduces the accept set by
        construction."""
        from kusto_pre_forge_spark.operators.robots import robots_gate

        def gate(batch: DataFrame) -> DataFrame:
            return robots_gate(batch, rules, url_col=url_col, agent=agent)

        return self._admit(batch_df, batch_id, corpus_dir, id_col, gate)

    def classifier_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        corpus_dir: str,
        weights: list,
        bias: float,
        threshold: float = 0.5,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> int:
        """One micro-batch of quality-classifier-gated ingestion: landed
        documents score under a FROZEN hashed n-gram model
        (``textstats.train_hashed_text_lr`` output — the FineWeb-at-
        ingest posture: train once on a labeled seed, gate the firehose
        forever after) and only p ≥ threshold enters the corpus store.
        The score is a pure codegen projection of the document under
        frozen literals — no corpus read per batch, no model server —
        so crash replay reproduces the accept set by construction."""
        from kusto_pre_forge_spark.operators.textstats import score_hashed_text_lr

        def gate(batch: DataFrame) -> DataFrame:
            scores = score_hashed_text_lr(
                batch, weights, bias, text_col=text_col, id_col=id_col
            ).select(id_col, "p_quality")
            return batch.join(scores, id_col).filter(
                F.col("p_quality") >= float(threshold)
            )

        return self._admit(batch_df, batch_id, corpus_dir, id_col, gate)

    def webdataset_ingest_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        out_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_members_per_shard: int = 512,
    ) -> int:
        """One micro-batch of continuous WebDataset shard production — the
        streaming twin of ``sinks.webdataset.write_webdataset``: each
        landed SOURCE FILE's documents write as tar shards under
        ``out_dir/<_kpf_file>/`` (:func:`_by_file` keying, a pure function
        of that file alone), and the sink's zeroed-metadata +
        atomic-rename write makes ANY replay — same checkpoint or rebuilt,
        same packing or repacked — overwrite each shard byte-identically.
        Consumers glob ``out_dir/*/shard-*.tar`` (the archive front door
        reads them back, member-streamed). Returns members written."""
        import os as _os

        from kusto_pre_forge_spark.sinks.webdataset import write_webdataset

        batch = _by_file(batch_df, id_col)
        files = [r["_kpf_file"] for r in batch.select("_kpf_file").distinct().collect()]
        total = 0
        for fk in sorted(files):
            sub = batch.filter(F.col("_kpf_file") == fk).select(
                id_col, text_col
            )
            man = write_webdataset(
                sub,
                _os.path.join(out_dir, fk),
                text_col=text_col,
                id_col=id_col,
                max_members_per_shard=max_members_per_shard,
            ).agg(F.sum("n_members").alias("n")).collect()[0]
            total += int(man["n"] or 0)
        return total

    def corpus_stats_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        stats_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> int:
        """One micro-batch of incremental corpus-statistics maintenance —
        the streaming counterpart of the batch tf-idf/BM25 statistics
        stages: the batch's per-word (occurrences, document-frequency)
        DELTAS land in a store partitioned by SOURCE FILE
        (:func:`_by_file`), the additive half of a continuously maintained
        vocabulary/IDF table; the merged table is always one sum-by-word
        away (:meth:`read_corpus_stats`). Dynamic partition overwrite
        rewrites each file's delta identically on any replay, so counts
        can never double. Returns the number of delta rows written."""
        batch = _by_file(batch_df, id_col)
        if not batch.head(1):
            return 0
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
        )
        words = batch.select(
            F.col(id_col).alias("_id"),
            "_kpf_file",
            F.explode(toks).alias("w"),
        )
        delta = words.groupBy("_kpf_file", "w").agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("_id").alias("n_docs"),
        )
        return _write_by_file(delta, stats_dir)

    def ann_index_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        index_dir: str,
        centroids: list,
        codebooks: list,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> int:
        """One micro-batch of incremental IVF-PQ index maintenance — the
        serving-side counterpart of the batch ANN tier: the arrived vectors
        encode to (id, cell, m codes) rows under frozen centroids/codebooks
        (training artifacts — retraining is an offline rebuild, as in
        every production ANN service) and land in a SOURCE-FILE-keyed
        partition (:func:`_by_file`), so vectors are searchable one trigger
        after arrival, the stored index is ~32× smaller than the raw
        vectors, and replays (crash or lost checkpoint) rewrite identical
        partitions. Queries read the union of partitions via
        :meth:`read_ann_index` + ``pq_query_index``. Returns rows
        written."""
        from kusto_pre_forge_spark.operators.similarity import pq_build_index

        batch = _by_file(batch_df, id_col)
        if not batch.head(1):
            return 0
        idx = pq_build_index(
            batch, centroids, codebooks, id_col=id_col, vec_col=vec_col
        ).join(batch.select(id_col, "_kpf_file"), id_col)
        return _write_by_file(idx, index_dir)

    @staticmethod
    def read_ann_index(spark: SparkSession, index_dir: str) -> DataFrame:
        """The queryable (id, cell, codes) union of every delta partition
        — pass straight to ``pq_query_index``."""
        return spark.read.parquet(index_dir).drop("_kpf_file")

    @staticmethod
    def compact_corpus_store(
        spark: SparkSession, corpus_dir: str, keep_latest: int = 1
    ) -> int:
        """Merge all but the newest ``keep_latest`` batch partitions of a
        dedup corpus store into one archive partition — the operational
        valve against small-files growth (one partition per micro-batch,
        a day of 1-min triggers is 1440 directories).

        Replay-safety invariants preserved:

        - only the most recent batch can ever be replayed (Structured
          Streaming replays the not-yet-committed batch), so everything
          older is final and free to merge; ``keep_latest`` newest
          partitions are left untouched;
        - archive partitions take fresh NEGATIVE batch ids (one per
          compaction), which never collide with live batch ids, so the
          own-partition-excluding corpus read keeps treating archived
          docs as history;
        - crash-safe ordering: the new archive lands (tmp write + rename)
          BEFORE the merged sources delete. A crash in between leaves
          duplicate corpus rows — harmless for dedup admission
          (membership is idempotent) and healed by re-running compaction.

        Returns the number of partitions merged (0 = nothing to do).
        """
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        path_cls = jvm.org.apache.hadoop.fs.Path
        root = path_cls(corpus_dir)
        fs = root.getFileSystem(conf)
        if not fs.exists(root):
            return 0
        batches = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("_kpf_batch="):
                batches.append(int(name.split("=", 1)[1]))
        live = sorted(b for b in batches if b >= 0)
        merge = sorted(b for b in batches if b < 0) + live[: max(len(live) - keep_latest, 0)]
        if len(merge) < 2:
            return 0
        archive_id = min([b for b in batches if b < 0] + [0]) - 1
        merged = (
            spark.read.parquet(corpus_dir)
            .filter(F.col("_kpf_batch").isin(merge))
            .drop("_kpf_batch")
        )
        tmp = path_cls(corpus_dir + "/_kpf_compact_tmp")
        if fs.exists(tmp):
            fs.delete(tmp, True)
        merged.write.mode("overwrite").parquet(str(tmp))
        # drop Spark's _SUCCESS marker so the renamed dir holds data only
        fs.delete(path_cls(str(tmp) + "/_SUCCESS"), False)
        fs.rename(tmp, path_cls(corpus_dir + f"/_kpf_batch={archive_id}"))
        for b in merge:
            fs.delete(path_cls(corpus_dir + f"/_kpf_batch={b}"), True)
        return len(merge)

    @staticmethod
    def read_corpus_stats(spark: SparkSession, stats_dir: str) -> DataFrame:
        """Merged corpus statistics: (word, n_occurrences, n_docs) summed
        over every batch delta — one map-side-combined aggregate over the
        compact delta store, not the corpus."""
        return (
            spark.read.parquet(stats_dir)
            .groupBy("w")
            .agg(
                F.sum("n_occurrences").cast("long").alias("n_occurrences"),
                F.sum("n_docs").cast("long").alias("n_docs"),
            )
        )
