"""Streaming mode: file arrival → micro-batch ETL, exactly-once semantics.

Mirrors SURVEY §2.6: trigger ≡ flush interval, checkpoint ≡ message
completion, idempotent sink ≡ ingest-by tags. Files are dropped into the
landing dir in waves to simulate Event Grid arrivals (FIXTURES.md F5).
"""

from functools import partial

import pytest
from conftest import _land_waves
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kusto_pre_forge_spark.catalog import PartitionPolicy
from kusto_pre_forge_spark.functions.hashing import kusto_preforge_hash
from kusto_pre_forge_spark.plans.prepartition import PID_COL
from kusto_pre_forge_spark.streaming import StreamingEtl

SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

POLICY = PartitionPolicy("o_orderpriority", 8, 42)


@pytest.fixture()
def landing(spark, sf_smoke, tmp_path):
    """Write two waves of CSV blobs from the orders table."""
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    land = tmp_path / "landing"
    wave1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    wave2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    wave1.coalesce(1).write.option("header", True).csv(str(land / "wave1_tmp"))
    wave2.coalesce(1).write.option("header", True).csv(str(land / "wave2_tmp"))
    import glob
    import shutil

    land.mkdir(exist_ok=True)
    for i, tmp in enumerate(["wave1_tmp", "wave2_tmp"]):
        src = glob.glob(str(land / tmp / "*.csv"))[0]
        shutil.move(src, str(land / f"wave{i}.csv.pending"))
        shutil.rmtree(str(land / tmp))
    return land, orders


def _drain(q):
    q.awaitTermination(120)


def test_streaming_prepartition_two_waves(spark, tmp_path, landing):
    land, orders = landing
    etl = StreamingEtl(
        spark,
        landing_dir=str(land) + "/*.csv",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "out"),
        schema=SCHEMA,
    )
    # wave 1 arrives
    (land / "wave0.csv.pending").rename(land / "wave0.csv")
    q = etl.start_prepartition(POLICY, available_now=True)
    _drain(q)
    n1 = spark.read.parquet(str(tmp_path / "out")).count()
    assert n1 == orders.filter(F.col("o_orderkey") % 2 == 0).count()

    # wave 2 arrives later; checkpoint ensures wave 1 is not reprocessed
    (land / "wave1.csv.pending").rename(land / "wave1.csv")
    q = etl.start_prepartition(POLICY, available_now=True)
    _drain(q)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == orders.count()

    # purity: partition dirs honor the reference hash
    bad = out.filter(F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 8, 42))
    assert bad.count() == 0

    # each single-file batch writes one dense file per (pid, batch)
    import glob

    batch_dirs = glob.glob(str(tmp_path / "out" / f"{PID_COL}=*" / "_kpf_batch=*"))
    assert {d.rsplit("=", 1)[1] for d in batch_dirs} == {"0", "1"}
    for d in batch_dirs:
        files = [f for f in glob.glob(f"{d}/*") if not f.endswith("_SUCCESS")]
        assert len(files) == 1, d


def test_file_source_runs_no_empty_micro_batch(spark, tmp_path, landing):
    """A stateless file-source query never hands foreachBatch an empty
    micro-batch — idle processing-time triggers run no batch, and an
    availableNow restart with nothing new runs none either — which is
    why the StreamingEtl modes need no per-batch emptiness probe."""
    import time

    land, _ = landing
    etl = StreamingEtl(
        spark,
        landing_dir=str(land) + "/*.csv",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "out"),
        schema=SCHEMA,
    )
    counts = []

    def record(batch_df, batch_id):
        counts.append(batch_df.count())

    (land / "wave0.csv.pending").rename(land / "wave0.csv")
    q = etl.start(record, trigger_seconds=1)
    try:
        deadline = time.time() + 60
        while len(counts) < 1 and time.time() < deadline:
            time.sleep(0.2)
        (land / "wave1.csv.pending").rename(land / "wave1.csv")
        while len(counts) < 2 and time.time() < deadline:
            time.sleep(0.2)
        time.sleep(3)  # several idle triggers
    finally:
        q.stop()
    _drain(etl.start(record, available_now=True))
    assert len(counts) == 2 and all(n > 0 for n in counts), counts


def test_streaming_idempotent_ingest_replay(spark, tmp_path, landing):
    land, orders = landing
    (land / "wave0.csv.pending").rename(land / "wave0.csv")
    (land / "wave1.csv.pending").rename(land / "wave1.csv")

    def make_etl(ckpt):
        return StreamingEtl(
            spark,
            landing_dir=str(land) + "/*.csv",
            checkpoint_dir=str(tmp_path / ckpt),
            output_dir=str(tmp_path / "ingested"),
            schema=SCHEMA,
        )

    q = make_etl("ckpt1").start_idempotent_ingest(
        str(tmp_path / "manifest"), available_now=True
    )
    _drain(q)
    n1 = spark.read.parquet(str(tmp_path / "ingested")).count()
    assert n1 == orders.count()

    # simulate a re-delivery: fresh checkpoint (≡ lost queue state) replays
    # all files — the ingest-by manifest must make it a no-op
    q = make_etl("ckpt2").start_idempotent_ingest(
        str(tmp_path / "manifest"), available_now=True
    )
    _drain(q)
    n2 = spark.read.parquet(str(tmp_path / "ingested")).count()
    assert n2 == n1, "replayed batch must not duplicate rows"


def test_streaming_split_two_waves(spark, tmp_path, landing):
    """Continuous Split: each arriving blob is sharded once; a second
    availableNow run with the same checkpoint reprocesses nothing."""
    import glob

    land, orders = landing
    etl = StreamingEtl(
        spark,
        landing_dir=str(land) + "/*.csv",
        checkpoint_dir=str(tmp_path / "ckpt-split"),
        output_dir=str(tmp_path / "shards"),
        schema=SCHEMA,
        fmt="text",
    )
    (land / "wave0.csv.pending").rename(land / "wave0.csv")
    q = etl.start_split(max_bytes_per_shard=8 * 1024, available_now=True)
    _drain(q)
    n1 = len(glob.glob(str(tmp_path / "shards") + "/**/part-*", recursive=True))
    assert n1 > 0

    (land / "wave1.csv.pending").rename(land / "wave1.csv")
    q = etl.start_split(max_bytes_per_shard=8 * 1024, available_now=True)
    _drain(q)
    files = glob.glob(str(tmp_path / "shards") + "/**/part-*", recursive=True)
    srcs = {f.split("_kpf_src_name=")[1].split("/")[0] for f in files}
    assert srcs == {"wave0.csv", "wave1.csv"}

    # completeness: all body lines present exactly once (header line is
    # peeled per source, shards carry the header via run_split only when
    # it re-adds it — fmt=text streams raw lines, csv_headers=True peels)
    out = spark.read.text([f for f in files])
    # each source contributed its rows; total = orders + 2 headers re-added
    n_rows = out.count()
    assert n_rows >= orders.count()

    # replay with a fresh checkpoint rewrites only its own partitions
    etl2 = StreamingEtl(
        spark,
        landing_dir=str(land) + "/*.csv",
        checkpoint_dir=str(tmp_path / "ckpt-split-2"),
        output_dir=str(tmp_path / "shards"),
        schema=SCHEMA,
        fmt="text",
    )
    q = etl2.start_split(max_bytes_per_shard=8 * 1024, available_now=True)
    _drain(q)
    files2 = glob.glob(str(tmp_path / "shards") + "/**/part-*", recursive=True)
    out2 = spark.read.text([f for f in files2])
    assert out2.count() == n_rows, "replay must not duplicate rows"


def test_streaming_prepartition_replay_no_dup(spark, tmp_path, landing):
    """A replayed micro-batch (fresh checkpoint ≡ lost commit) must replace
    its own (pid, batch) partitions, not append a second copy."""
    land, orders = landing
    (land / "wave0.csv.pending").rename(land / "wave0.csv")

    def make_etl(ckpt):
        return StreamingEtl(
            spark,
            landing_dir=str(land) + "/*.csv",
            checkpoint_dir=str(tmp_path / ckpt),
            output_dir=str(tmp_path / "out"),
            schema=SCHEMA,
        )

    q = make_etl("ckpt-a").start_prepartition(POLICY, available_now=True)
    _drain(q)
    n1 = spark.read.parquet(str(tmp_path / "out")).count()
    assert n1 == orders.filter(F.col("o_orderkey") % 2 == 0).count()

    # replay: fresh checkpoint re-delivers the same file as batch 0 again —
    # dynamic overwrite on (pid, _kpf_batch) makes it a no-op
    q = make_etl("ckpt-b").start_prepartition(POLICY, available_now=True)
    _drain(q)
    n2 = spark.read.parquet(str(tmp_path / "out")).count()
    assert n2 == n1, "replayed batch must not duplicate rows"


@pytest.mark.parametrize("fmt", ["csv", "tsv", "psv", "json", "parquet", "orc", "text"])
def test_streaming_batches_match_read_landing(spark, tmp_path, fmt):
    """A streamed landing lands the same columns and rows as the batch
    reader on the same files (one format dispatch for both); a quoted CSV
    field holding a newline is ONE record on both paths."""
    from kusto_pre_forge_spark.config import DataFormat, RunSettings
    from kusto_pre_forge_spark.sources.blob import read_landing

    land = tmp_path / "landing"
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.StringType())]
    )
    kv = [("1", "line one\nline two"), ("2", "plain")]
    if fmt in ("json", "parquet", "orc"):
        getattr(spark.createDataFrame(kv, schema).coalesce(1).write, fmt)(str(land))
    else:
        land.mkdir()
        sep = {"tsv": "\t", "psv": "|"}.get(fmt, ",")
        blob = 'k,v\n1,"line one\nline two"\n2,plain\n'.replace(",", sep)
        (land / "blob.txt").write_text(blob)
    settings = RunSettings(fmt=DataFormat.TXT if fmt == "text" else DataFormat(fmt))
    batch = read_landing(spark, str(land), settings, schema=schema)
    if fmt != "text":
        assert sorted(tuple(r) for r in batch.select("k", "v").collect()) == kv

    etl = StreamingEtl(
        spark,
        landing_dir=str(land),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "unused"),
        schema=schema,
        fmt=fmt,
    )
    out = str(tmp_path / "out")
    _drain(
        etl.start(
            lambda df, _: df.write.mode("append").parquet(out), available_now=True
        )
    )
    streamed = spark.read.parquet(out)
    assert streamed.columns == batch.columns
    cols = [c for c in batch.columns if c != "_kpf_source"]
    assert sorted(tuple(r) for r in streamed.select(cols).collect()) == sorted(
        tuple(r) for r in batch.select(cols).collect()
    )


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_streaming_dedup_ingest_across_batches(spark, tmp_path):
    """Duplicates arriving across micro-batches are dropped exactly once
    (first arrival wins), batch replay is a bit-exact no-op, and the
    accepted set equals the batch-mode min-id dedup of the full input."""
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "completely different content about spark structured streaming",
        4: "yet another unique document with enough shingles to matter",
        6: "final unique text that resembles nothing else in the corpus",
    }
    # dup pairs: 3 == 1, 5 == 4 (identical text, jaccard 1.0)
    waves = [
        [(1, texts[1]), (2, texts[2])],
        [(3, texts[1]), (4, texts[4])],
        [(5, texts[4]), (6, texts[6])],
    ]
    land = tmp_path / "dedup_landing"
    land.mkdir()
    corpus_dir = str(tmp_path / "corpus")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_dedup"),
        str(tmp_path / "out_unused"),
        DOC_SCHEMA,
        fmt="csv",
        csv_headers=False,
        max_files_per_trigger=1,  # one wave per micro-batch
    )
    _land_waves(land, waves)
    q = etl.start(
        partial(etl.dedup_ingest_batch, corpus_dir=corpus_dir, shingle_n=4),
        trigger_seconds=None,
        available_now=True,
    )
    _drain(q)
    got = {
        r.doc_id: r.text
        for r in spark.read.parquet(corpus_dir).collect()
    }
    assert set(got) == {1, 2, 4, 6}, got
    assert got[1] == texts[1] and got[4] == texts[4]

    # crash replay: rerun wave2's batch with its original batch id — the
    # corpus read must exclude the batch's own partition, making the
    # rerun reproduce the same accept set instead of dropping everything
    corpus_before = sorted(
        (r.doc_id, r.text, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    replay_df = spark.createDataFrame(waves[1], DOC_SCHEMA)
    n = etl.dedup_ingest_batch(replay_df, 1, corpus_dir, shingle_n=4)
    corpus_after = sorted(
        (r.doc_id, r.text, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert corpus_after == corpus_before, "replay must be a no-op"
    assert n == 1, "replay re-accepts exactly the original survivor (doc 4)"

    # batch-mode equivalence: min-id survivors over the full input
    from kusto_pre_forge_spark.operators.dedup import (
        dedup_survivors,
        minhash_lsh_pairs,
    )

    full = spark.createDataFrame(
        [d for wave in waves for d in wave], DOC_SCHEMA
    )
    pairs = minhash_lsh_pairs(full, "text", "doc_id", shingle_n=4)
    batch_ids = {
        r.doc_id
        for r in dedup_survivors(full, pairs, "doc_id").select("doc_id").collect()
    }
    assert batch_ids == set(got), "streaming == batch dedup on this input"


def test_streaming_prepartition_json_landing(spark, sf_smoke, tmp_path):
    """JSON-lines landing blobs stream through the same PrePartition plan;
    a fresh-checkpoint replay is a no-op (dynamic (pid, batch) overwrite)."""
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    land = tmp_path / "landing_json"
    orders.coalesce(1).write.json(str(land))

    def make_etl(ckpt):
        return StreamingEtl(
            spark,
            landing_dir=str(land) + "/*.json",
            checkpoint_dir=str(tmp_path / ckpt),
            output_dir=str(tmp_path / "out_json"),
            schema=SCHEMA,
            fmt="json",
        )

    q = make_etl("ckptj1").start_prepartition(POLICY, available_now=True)
    _drain(q)
    out = spark.read.parquet(str(tmp_path / "out_json"))
    assert out.count() == orders.count()
    bad = out.filter(F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 8, 42))
    assert bad.count() == 0
    # replay with a lost checkpoint: same files, same batch ids -> no dup
    q = make_etl("ckptj2").start_prepartition(POLICY, available_now=True)
    _drain(q)
    assert spark.read.parquet(str(tmp_path / "out_json")).count() == orders.count()


def test_streaming_prepartition_parquet_landing(spark, sf_smoke, tmp_path):
    """Parquet landing blobs stream through the same plan."""
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    land = tmp_path / "landing_pq"
    orders.coalesce(1).write.parquet(str(land))
    etl = StreamingEtl(
        spark,
        landing_dir=str(land),
        checkpoint_dir=str(tmp_path / "ckpt_pq"),
        output_dir=str(tmp_path / "out_pq"),
        schema=SCHEMA,
        fmt="parquet",
    )
    q = etl.start_prepartition(POLICY, available_now=True)
    _drain(q)
    assert spark.read.parquet(str(tmp_path / "out_pq")).count() == orders.count()


def test_streaming_prepartition_orc_landing(spark, sf_smoke, tmp_path):
    """ORC landing blobs stream through the same plan."""
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    land = tmp_path / "landing_orc"
    orders.coalesce(1).write.orc(str(land))
    etl = StreamingEtl(
        spark,
        landing_dir=str(land),
        checkpoint_dir=str(tmp_path / "ckpt_orc"),
        output_dir=str(tmp_path / "out_orc"),
        schema=SCHEMA,
        fmt="orc",
    )
    q = etl.start_prepartition(POLICY, available_now=True)
    _drain(q)
    assert spark.read.parquet(str(tmp_path / "out_orc")).count() == orders.count()


def test_streaming_corpus_stats_accumulate_and_replay(spark, sf_smoke, tmp_path):
    """Incremental vocabulary/IDF maintenance: per-batch word deltas
    accumulate across waves; a lost-checkpoint replay rewrites its own
    partitions (no double counting); the merged table equals the batch
    computation over all docs."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").select("doc_id", "text")
    land = tmp_path / "landing_docs"
    land.mkdir()
    w1 = docs.filter(F.col("doc_id") % 2 == 0)
    w2 = docs.filter(F.col("doc_id") % 2 == 1)
    w1.coalesce(1).write.json(str(land / "wave0"))
    schema = docs.schema

    def make_etl(ckpt):
        return StreamingEtl(
            spark,
            landing_dir=str(land) + "/wave*/*.json",
            checkpoint_dir=str(tmp_path / ckpt),
            output_dir=str(tmp_path / "unused"),
            schema=schema,
            fmt="json",
        )

    stats_dir = str(tmp_path / "stats")
    etl = make_etl("ck1")
    q = etl.start(partial(etl.corpus_stats_batch, stats_dir=stats_dir), available_now=True)
    _drain(q)
    n1 = StreamingEtl.read_corpus_stats(spark, stats_dir).count()
    assert n1 > 0

    w2.coalesce(1).write.json(str(land / "wave1"))
    etl = make_etl("ck1")
    q = etl.start(partial(etl.corpus_stats_batch, stats_dir=stats_dir), available_now=True)
    _drain(q)

    merged = StreamingEtl.read_corpus_stats(spark, stats_dir)
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    expect = (
        docs.select(F.col("doc_id").alias("_id"), F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("_id").alias("n_docs"),
        )
    )
    assert merged.exceptAll(expect).count() == 0
    assert expect.exceptAll(merged).count() == 0

    # lost checkpoint: every file replays with the same batch semantics —
    # partition overwrite keeps the merged counts identical
    etl = make_etl("ck2")
    q = etl.start(partial(etl.corpus_stats_batch, stats_dir=stats_dir), available_now=True)
    _drain(q)
    again = StreamingEtl.read_corpus_stats(spark, stats_dir)
    assert again.exceptAll(expect).count() == 0
    assert expect.exceptAll(again).count() == 0


def test_compact_corpus_store(spark, tmp_path):
    """Compaction merges finalized batch partitions into a negative-id
    archive, keeps the newest batch replayable, preserves the corpus
    row set, and leaves dedup admission semantics intact."""
    import glob as _glob

    etl = StreamingEtl(
        spark,
        str(tmp_path / "unused_landing"),
        str(tmp_path / "unused_ckpt"),
        str(tmp_path / "unused_out"),
        DOC_SCHEMA,
    )
    corpus_dir = str(tmp_path / "corpus_c")
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "completely different content about spark structured streaming",
        3: "yet another unique document with enough shingles to matter",
    }
    for bid, (i, t) in enumerate(texts.items()):
        df = spark.createDataFrame([(i, t)], DOC_SCHEMA).withColumn(
            "_kpf_source", F.lit(f"f{bid}")
        )
        etl.dedup_ingest_batch(df, bid, corpus_dir)
    before = {
        (r.doc_id, r.text) for r in spark.read.parquet(corpus_dir).drop("_kpf_batch").collect()
    }
    n = StreamingEtl.compact_corpus_store(spark, corpus_dir, keep_latest=1)
    assert n == 2
    parts = sorted(
        p.split("=")[-1] for p in _glob.glob(corpus_dir + "/_kpf_batch=*")
    )
    assert parts == ["-1", "2"], parts
    after = {
        (r.doc_id, r.text) for r in spark.read.parquet(corpus_dir).drop("_kpf_batch").collect()
    }
    assert after == before
    # dedup admission still rejects duplicates of ARCHIVED docs
    dup = spark.createDataFrame([(9, texts[1])], DOC_SCHEMA).withColumn(
        "_kpf_source", F.lit("f9")
    )
    accepted = etl.dedup_ingest_batch(dup, 3, corpus_dir)
    assert accepted == 0
    # idempotent: nothing left to merge besides archive + newest
    assert StreamingEtl.compact_corpus_store(spark, corpus_dir, keep_latest=1) == 0


def test_streaming_ann_index_maintenance(spark, sf_smoke, tmp_path):
    """Incremental IVF-PQ index: vectors arriving in waves are searchable
    from the maintained store; results equal the batch-built index, and a
    lost-checkpoint replay rewrites identical partitions."""
    from pyspark.sql import types as T

    from kusto_pre_forge_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cb = similarity.pq_train_codebooks(emb, m=8, ks=16, n_iters=2)
    km = similarity.ivf_kmeans_centroids(emb, n_cells=8, n_iters=2)

    land = tmp_path / "landing_vecs"
    land.mkdir()
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.json(str(land / "w0"))
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.json(str(land / "w1"))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def make_etl(ck):
        return StreamingEtl(
            spark,
            landing_dir=str(land) + "/w*/*.json",
            checkpoint_dir=str(tmp_path / ck),
            output_dir=str(tmp_path / "unused2"),
            schema=schema,
            fmt="json",
        )

    index_dir = str(tmp_path / "ann_index")

    def index_rows():
        return sorted(
            (r.vec_id, r._cell, tuple(r.codes))
            for r in StreamingEtl.read_ann_index(spark, index_dir).collect()
        )

    etl = make_etl("cka1")
    q = etl.start(
        partial(etl.ann_index_batch, index_dir=index_dir, centroids=km, codebooks=cb),
        available_now=True,
    )
    _drain(q)
    idx = StreamingEtl.read_ann_index(spark, index_dir)
    assert idx.count() == emb.count()
    rows_before = index_rows()

    queries = emb.filter(F.col("vec_id") < 5)
    from_stream = similarity.pq_query_index(
        idx, queries, km, cb, k=5, nprobe=8
    ).select("query_id", "neighbor_id", "rank")
    from_batch_idx = similarity.pq_build_index(emb, km, cb)
    from_batch = similarity.pq_query_index(
        from_batch_idx, queries, km, cb, k=5, nprobe=8
    ).select("query_id", "neighbor_id", "rank")
    assert from_stream.exceptAll(from_batch).count() == 0
    assert from_batch.exceptAll(from_stream).count() == 0

    # lost checkpoint: full replay rewrites the same file-keyed partitions
    etl = make_etl("cka2")
    q = etl.start(
        partial(etl.ann_index_batch, index_dir=index_dir, centroids=km, codebooks=cb),
        available_now=True,
    )
    _drain(q)
    again = StreamingEtl.read_ann_index(spark, index_dir)
    assert again.count() == emb.count()
    assert index_rows() == rows_before, "replay must rewrite identical rows"


def test_corpus_stats_file_partitions_are_pure(spark, tmp_path):
    """A file's delta partition must be a pure function of that file:
    re-writing one file's delta alone (the repacked-replay scenario, doc
    shared across files) leaves merged counts unchanged."""
    stats_dir = str(tmp_path / "stats_pure")
    etl = StreamingEtl(
        spark,
        str(tmp_path / "u1"),
        str(tmp_path / "u2"),
        str(tmp_path / "u3"),
        DOC_SCHEMA,
    )
    f1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta")], DOC_SCHEMA
    ).withColumn("_kpf_source", F.lit("file1"))
    f2 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (3, "delta")], DOC_SCHEMA
    ).withColumn("_kpf_source", F.lit("file2"))
    # original packing: both files in one batch (doc 1 in both files)
    etl.corpus_stats_batch(f1.unionByName(f2), 0, stats_dir)
    before = {
        (r.w, r.n_occurrences, r.n_docs)
        for r in StreamingEtl.read_corpus_stats(spark, stats_dir).collect()
    }
    # repacked replay: file2 arrives alone in its own batch
    etl.corpus_stats_batch(f2, 1, stats_dir)
    after = {
        (r.w, r.n_occurrences, r.n_docs)
        for r in StreamingEtl.read_corpus_stats(spark, stats_dir).collect()
    }
    assert after == before, "per-file purity: repacked replay must not drift"


def test_streaming_semdedup_ingest_across_batches(spark, tmp_path):
    """Embedding near-dups arriving across micro-batches are admitted
    exactly once under frozen centroids; batch replay is a no-op."""
    from pyspark.sql import types as T

    EMB_SCHEMA = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    waves = [
        [(1, [0.99, 0.01, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        [(3, [0.98, 0.02, 0.0, 0.0]), (4, [0.0, 0.0, 1.0, 0.0])],   # 3 dups 1
        [(5, [0.0, 0.99, 0.01, 0.0]), (6, [0.0, 0.0, 0.0, 1.0])],   # 5 dups 2
    ]
    land = tmp_path / "sem_landing"
    land.mkdir()
    corpus_dir = str(tmp_path / "sem_corpus")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_sem"),
        str(tmp_path / "out_unused_sem"),
        EMB_SCHEMA,
        fmt="json",
        max_files_per_trigger=1,
    )
    import json as _json
    import os as _os
    import time as _time

    now = _time.time()
    for i, wave in enumerate(waves):
        p = land / f"wave{i}.json"
        with open(p, "w") as f:
            for vid, vec in wave:
                f.write(_json.dumps({"vec_id": vid, "embedding": vec}) + "\n")
        _os.utime(p, (now + i * 10, now + i * 10))
    q = etl.start(
        partial(
            etl.semdedup_ingest_batch,
            corpus_dir=corpus_dir,
            centroids=cents,
            n_cells=4,
            threshold=0.95,
        ),
        trigger_seconds=None,
        available_now=True,
    )
    _drain(q)
    got = {r.vec_id for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {1, 2, 4, 6}, got

    # crash replay of wave 1 (batch id 1): no-op, same accept count
    before = sorted(
        (r.vec_id, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    replay = spark.createDataFrame(waves[1], EMB_SCHEMA)
    n = etl.semdedup_ingest_batch(
        replay, 1, corpus_dir, centroids=cents, n_cells=4, threshold=0.95
    )
    after = sorted(
        (r.vec_id, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert after == before, "replay must be a no-op"
    assert n == 1, "replay re-accepts exactly the original survivor (vec 4)"


def test_streaming_dsir_ingest_filters_by_importance(spark, tmp_path):
    """Importance-filtered ingestion: docs scoring >= threshold against a
    FROZEN log-ratio table are admitted, others dropped; batch replay is
    a bit-exact no-op (pure per-doc decision)."""
    from kusto_pre_forge_spark.operators import corpus as co

    target_like = "spark streaming window merge spark streaming window merge"
    off_target = "zzz qqq vvv kkk www nnn ppp rrr ttt yyy uuu iii ooo aaa"
    # train the frozen log-ratio offline: target = the target-like shape
    train = spark.createDataFrame(
        [(100, target_like), (101, target_like + " extra"), (102, off_target)],
        "doc_id long, text string",
    )
    lam = co.dsir_logratio(
        train.filter(F.col("doc_id") < 102), train, n_buckets=512
    ).collect()
    lam_df = spark.createDataFrame(lam, "bucket long, lam double")
    # pick threshold between the two populations' scores
    scored = co.dsir_weights(
        spark.createDataFrame(
            [(1, target_like), (2, off_target)], "doc_id long, text string"
        ),
        lam_df,
        n_buckets=512,
    ).collect()
    s = {r.doc_id: r.dsir_logw for r in scored}
    assert s[1] > s[2]
    thr = (s[1] + s[2]) / 2

    waves = [
        [(1, target_like), (2, off_target)],
        [(3, target_like + " tail"), (4, off_target + " tail")],
    ]
    land = tmp_path / "dsir_landing"
    land.mkdir()
    corpus_dir = str(tmp_path / "dsir_corpus")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_dsir"),
        str(tmp_path / "out_unused2"),
        DOC_SCHEMA,
        fmt="csv",
        csv_headers=False,
        max_files_per_trigger=1,
    )
    _land_waves(land, waves)
    q = etl.start(
        partial(
            etl.dsir_ingest_batch,
            corpus_dir=corpus_dir,
            logratio=lam_df,
            threshold=thr,
            n_buckets=512,
        ),
        trigger_seconds=None,
        available_now=True,
    )
    _drain(q)
    stored = spark.read.parquet(corpus_dir)
    got = {r.doc_id for r in stored.collect()}
    assert got == {1, 3}, got
    # replay wave 1's batch: same accept set, same store contents
    before = sorted((r.doc_id, r._kpf_batch) for r in stored.collect())
    wave1 = spark.createDataFrame(waves[1], "doc_id long, text string")
    batch_ids = {r._kpf_batch for r in stored.collect() if r.doc_id == 3}
    etl.dsir_ingest_batch(
        wave1, batch_ids.pop(), corpus_dir, lam_df, thr, n_buckets=512
    )
    after = sorted(
        (r.doc_id, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert after == before


def test_streaming_blocklist_ingest(spark, tmp_path):
    """URL-blocklist admission at the door: docs whose URL host matches
    a frozen blocked domain at any subdomain depth are refused; batch
    replay is a bit-exact no-op (pure per-doc decision)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("url", T.StringType()),
        ]
    )
    waves = [
        [(1, "https://www.spam.example.com/a"), (2, "https://good.org/b")],
        [(3, "https://spam.example.com/c"), (4, "https://also.fine.net/d")],
    ]
    land = tmp_path / "bl_landing"
    land.mkdir()
    corpus_dir = str(tmp_path / "bl_corpus")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_bl"),
        str(tmp_path / "out_unused3"),
        schema,
        fmt="csv",
        csv_headers=False,
        max_files_per_trigger=1,
    )
    _land_waves(land, waves)
    bl = spark.createDataFrame([("spam.example.com",)], "domain string")
    q = etl.start(
        partial(etl.blocklist_ingest_batch, corpus_dir=corpus_dir, blocklist=bl),
        trigger_seconds=None,
        available_now=True,
    )
    _drain(q)
    stored = spark.read.parquet(corpus_dir)
    assert {r.doc_id for r in stored.collect()} == {2, 4}
    # replay wave 1: identical store afterwards
    before = sorted((r.doc_id, r._kpf_batch) for r in stored.collect())
    wave1 = spark.createDataFrame(waves[1], schema)
    bid = next(r._kpf_batch for r in stored.collect() if r.doc_id == 4)
    etl.blocklist_ingest_batch(wave1, bid, corpus_dir, bl)
    after = sorted(
        (r.doc_id, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert after == before


def test_streaming_exact_substr_ingest_across_batches(spark, tmp_path):
    """Span-granularity admission: a doc arriving later that repeats an
    8-token window of an accepted doc is dropped (first arrival wins),
    batch replay is a bit-exact no-op, and a single wave reproduces the
    batch-mode rule (corpus-empty + min-id ownership)."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    texts = {
        1: base + " india juliet kilo lima mike november oscar papa",
        2: "one two three four five six seven eight nine ten eleven twelve",
        # 3 repeats doc 1's leading window verbatim inside fresh prose
        3: "completely fresh words surround " + base + " and then more new",
        4: "utterly distinct content with no overlapping windows anywhere here today",
        # 5 repeats doc 2's window; 6 is clean
        5: "prefix tokens first then one two three four five six seven eight done",
        6: "closing document unlike all previous ones in every token position",
    }
    waves = [[(1, texts[1]), (2, texts[2])],
             [(3, texts[3]), (4, texts[4])],
             [(5, texts[5]), (6, texts[6])]]
    land = tmp_path / "substr_landing"
    land.mkdir()
    corpus_dir = str(tmp_path / "substr_corpus")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_substr"),
        str(tmp_path / "out_unused2"),
        DOC_SCHEMA,
        fmt="csv",
        csv_headers=False,
        max_files_per_trigger=1,
    )
    _land_waves(land, waves)
    q = etl.start(
        partial(etl.exact_substr_ingest_batch, corpus_dir=corpus_dir),
        trigger_seconds=None,
        available_now=True,
    )
    _drain(q)
    docs = spark.read.parquet(f"{corpus_dir}/docs")
    got = {r.doc_id for r in docs.collect()}
    assert got == {1, 2, 4, 6}, got

    # crash replay of wave 1 (batch id 1): both stores exclude the
    # batch's own partitions, so the rerun reproduces the accept set
    before = sorted(
        (r.doc_id, r._kpf_batch) for r in docs.collect()
    )
    wins_before = spark.read.parquet(f"{corpus_dir}/wins").count()
    replay_df = spark.createDataFrame(waves[1], DOC_SCHEMA)
    n = etl.exact_substr_ingest_batch(replay_df, 1, corpus_dir)
    after = sorted(
        (r.doc_id, r._kpf_batch)
        for r in spark.read.parquet(f"{corpus_dir}/docs").collect()
    )
    assert after == before, "replay must be a no-op"
    assert n == 1, "replay re-accepts exactly the original survivor (doc 4)"
    assert spark.read.parquet(f"{corpus_dir}/wins").count() == wins_before

    # single-wave == batch rule: all six docs in ONE batch on a fresh
    # store -> min-id window ownership drops 3 and 5, same as the waves
    one_dir = str(tmp_path / "substr_one")
    all_docs = spark.createDataFrame(
        [d for w in waves for d in w], DOC_SCHEMA
    )
    etl.exact_substr_ingest_batch(all_docs, 0, one_dir)
    one = {r.doc_id for r in spark.read.parquet(f"{one_dir}/docs").collect()}
    assert one == {1, 2, 4, 6}


def test_streaming_store_without_data_files_reads_as_empty(spark, tmp_path):
    """A store directory with no data file yet is empty history, not a
    read failure: a first exact-substr batch of docs shorter than the
    window leaves ``wins`` without a parquet file, and a crash in a first
    write leaves only a hidden staging directory. The next batch admits."""
    etl = StreamingEtl(
        spark,
        str(tmp_path / "land_unused"),
        str(tmp_path / "ckpt_unused"),
        str(tmp_path / "out_unused"),
        DOC_SCHEMA,
    )
    corpus_dir = str(tmp_path / "short_first")
    short = spark.createDataFrame([(1, "too short"), (2, "")], DOC_SCHEMA)
    assert etl.exact_substr_ingest_batch(short, 0, corpus_dir) == 2
    long = spark.createDataFrame(
        [(3, "alpha bravo charlie delta echo foxtrot golf hotel india")],
        DOC_SCHEMA,
    )
    assert etl.exact_substr_ingest_batch(long, 1, corpus_dir) == 1
    again = spark.createDataFrame(
        [(4, "xray alpha bravo charlie delta echo foxtrot golf hotel")],
        DOC_SCHEMA,
    )
    assert etl.exact_substr_ingest_batch(again, 2, corpus_dir) == 0

    crashed_dir = tmp_path / "crashed_first"
    (crashed_dir / ".spark-staging-0" / "_kpf_batch=0").mkdir(parents=True)
    docs = spark.createDataFrame([(1, "a b c"), (2, "d e f")], DOC_SCHEMA)
    assert etl.dedup_ingest_batch(docs, 0, str(crashed_dir)) == 2


def test_incremental_substr_accept_threshold(spark):
    """max_dup_windows tolerates that many foreign windows before
    rejecting — the knob between strict ExactSubstr (0) and quote-
    tolerant admission."""
    from kusto_pre_forge_spark.operators.dedup import (
        incremental_substr_accept,
        window_hash_frame,
    )

    corpus = spark.createDataFrame(
        [(100, "alpha bravo charlie delta echo foxtrot golf hotel india")],
        "doc_id long, text string",
    )
    corpus_wins = window_hash_frame(corpus, "text", "doc_id", 8).select("h")
    # new doc shares exactly 2 corpus windows (9-token overlap = 2 windows)
    new = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel india plus fresh tail words here")],
        "doc_id long, text string",
    )
    strict = incremental_substr_accept(corpus_wins, new, "text", "doc_id")
    assert strict.count() == 0
    tol = incremental_substr_accept(
        corpus_wins, new, "text", "doc_id", max_dup_windows=2
    )
    assert tol.count() == 1


def test_streaming_classifier_ingest(spark, tmp_path):
    """Quality-classifier admission at the door: a hashed n-gram LR
    trained offline on a labeled seed gates the landing firehose — docs
    scoring >= threshold enter the corpus store, others are refused;
    batch replay is a bit-exact no-op (pure per-doc decision under a
    FROZEN model)."""
    from kusto_pre_forge_spark.operators import textstats as TS

    good = "solid fine prose goodsignal keeps flowing with care"
    bad = "lowrent spam casino lowrent spam casino jackpot"
    seed = spark.createDataFrame(
        [(100 + i, good + f" v{i}", 1.0) for i in range(6)]
        + [(200 + i, bad + f" v{i}", 0.0) for i in range(6)],
        "doc_id long, text string, y double",
    )
    model = TS.train_hashed_text_lr(
        seed, "y", dim=64, n_iters=10, learn_rate=8.0
    )
    s = {
        r["doc_id"]: r["p_quality"]
        for r in TS.score_hashed_text_lr(
            spark.createDataFrame(
                [(1, good), (2, bad)], "doc_id long, text string"
            ),
            model["weights"],
            model["bias"],
        ).collect()
    }
    assert s[1] > s[2]
    thr = (s[1] + s[2]) / 2

    waves = [[(1, good), (2, bad)], [(3, good + " tail"), (4, bad + " tail")]]
    land = tmp_path / "clf_landing"
    land.mkdir()
    corpus_dir = str(tmp_path / "clf_corpus")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_clf"),
        str(tmp_path / "out_unused_clf"),
        DOC_SCHEMA,
        fmt="csv",
        csv_headers=False,
        max_files_per_trigger=1,
    )
    _land_waves(land, waves)
    q = etl.start(
        partial(
            etl.classifier_ingest_batch,
            corpus_dir=corpus_dir,
            weights=model["weights"],
            bias=model["bias"],
            threshold=thr,
        ),
        trigger_seconds=None,
        available_now=True,
    )
    _drain(q)
    stored = spark.read.parquet(corpus_dir)
    got = {r.doc_id for r in stored.collect()}
    assert got == {1, 3}, got
    # replay wave 1's batch: same accept set, same store contents
    before = sorted((r.doc_id, r._kpf_batch) for r in stored.collect())
    wave1 = spark.createDataFrame(waves[1], "doc_id long, text string")
    batch_ids = {r._kpf_batch for r in stored.collect() if r.doc_id == 3}
    etl.classifier_ingest_batch(
        wave1, batch_ids.pop(), corpus_dir, model["weights"], model["bias"], thr
    )
    after = sorted(
        (r.doc_id, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert after == before


def test_streaming_robots_ingest(spark, tmp_path):
    """robots.txt admission at the door (RFC 9309): docs whose URL the
    frozen rule table disallows for the crawler's agent are refused;
    longest-match precedence holds inside the stream; batch replay is a
    bit-exact no-op (pure per-doc decision against frozen rules)."""
    from pyspark.sql import types as T

    from kusto_pre_forge_spark.operators import robots as R

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("url", T.StringType()),
        ]
    )
    waves = [
        [(1, "https://closed.example/private/x"),
         (2, "https://closed.example/public/ok")],
        [(3, "https://open.example/anything"),
         (4, "https://closed.example/other")],
    ]
    land = tmp_path / "robots_landing"
    land.mkdir()
    corpus_dir = str(tmp_path / "robots_corpus")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_robots"),
        str(tmp_path / "out_unused_r"),
        schema,
        fmt="csv",
        csv_headers=False,
        max_files_per_trigger=1,
    )
    _land_waves(land, waves)
    rules = R.robots_rules(
        spark.createDataFrame(
            [("closed.example",
              "User-agent: *\nDisallow: /\nAllow: /public/")],
            "domain string, robots_txt string",
        )
    )
    q = etl.start(
        partial(etl.robots_ingest_batch, corpus_dir=corpus_dir, rules=rules, agent="kpfbot"),
        trigger_seconds=None,
        available_now=True,
    )
    _drain(q)
    stored = spark.read.parquet(corpus_dir)
    assert {r.doc_id for r in stored.collect()} == {2, 3}
    # replay wave 1 under its original batch id: identical store
    before = sorted((r.doc_id, r._kpf_batch) for r in stored.collect())
    wave1 = spark.createDataFrame(waves[1], schema)
    bid = next(r._kpf_batch for r in stored.collect() if r.doc_id == 3)
    etl.robots_ingest_batch(wave1, bid, corpus_dir, rules, agent="kpfbot")
    after = sorted(
        (r.doc_id, r._kpf_batch)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert after == before
