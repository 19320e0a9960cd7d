"""WebDataset tar-shard sink (sinks/webdataset.py): deterministic
size-capped shards, byte-identical re-runs, and the write→read roundtrip
through the archive front door."""

import glob
import tarfile
from functools import partial

from conftest import _land_waves
from pyspark.sql import functions as F

from kusto_pre_forge_spark.sinks.webdataset import write_webdataset
from kusto_pre_forge_spark.sources import autoextract as A


def test_webdataset_roundtrip_and_determinism(spark, tmp_path):
    docs = [(i, f"document body {i} " * (i % 5 + 1)) for i in range(40)]
    docs.append((777, ""))  # empty member survives
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "wds")
    man = write_webdataset(
        df, out, max_members_per_shard=8, num_buckets=4
    ).collect()
    assert sum(r.n_members for r in man) == 41
    assert all(r.n_members <= 8 for r in man)
    shards = sorted(glob.glob(out + "/shard-*.tar"))
    assert len(shards) == len(man)
    # dense shard numbering from 0
    assert sorted(r.shard_id for r in man) == list(range(len(man)))
    # roundtrip through the archive front door (tar members streamed)
    back = {
        int(r._kpf_source.split("!")[-1].split(".")[0]): (r.text or "")
        for r in A.read_text_auto(spark, out + "/*.tar").collect()
    }
    assert back == {i: t for i, t in docs}
    # byte-identical re-run (zeroed tar metadata, atomic publish)
    first = {p: open(p, "rb").read() for p in shards}
    write_webdataset(df, out, max_members_per_shard=8, num_buckets=4).collect()
    for p, body in first.items():
        assert open(p, "rb").read() == body, "re-run must be byte-identical"
    # member ORDER inside a shard follows the global (hash, id) order
    with tarfile.open(shards[0]) as tf:
        names = [m.name for m in tf]
    assert len(names) == len(set(names)) and all(n.endswith(".txt") for n in names)


def test_webdataset_meta_sidecars(spark, tmp_path):
    """meta_cols writes the convention's <id>.json sidecar right after
    each sample's .txt, deterministic (sorted keys, zeroed metadata)."""
    import json
    import tarfile

    df = spark.createDataFrame(
        [(1, "alpha", "web", 0.9), (2, "beta", "books", 0.4)],
        "doc_id long, text string, source string, score double",
    )
    out = str(tmp_path / "wds_meta")
    write_webdataset(
        df, out, max_members_per_shard=8, num_buckets=2,
        meta_cols=("source", "score"),
    ).collect()
    members = {}
    for p in sorted(glob.glob(out + "/shard-*.tar")):
        with tarfile.open(p) as tf:
            for m in tf:
                members[m.name] = tf.extractfile(m).read()
    assert members["1.txt"] == b"alpha"
    assert json.loads(members["1.json"]) == {"source": "web", "score": 0.9}
    assert json.loads(members["2.json"]) == {"source": "books", "score": 0.4}
    names = sorted(members)
    assert {n.split(".")[-1] for n in names} == {"txt", "json"}


def test_streaming_webdataset_ingest(spark, tmp_path):
    """Continuous shard production: two landing waves roll into
    per-source-file shard dirs; the full member set reads back through
    the archive front door; replaying a wave overwrites byte-identical
    shards (never duplicates)."""
    from pyspark.sql import types as T

    from kusto_pre_forge_spark.streaming.ingest import StreamingEtl

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    waves = [
        [(1, "alpha one"), (2, "beta two")],
        [(3, "gamma three"), (4, "delta four")],
    ]
    land = tmp_path / "wds_landing"
    land.mkdir()
    out = str(tmp_path / "wds_out")
    etl = StreamingEtl(
        spark,
        str(land),
        str(tmp_path / "ckpt_wds"),
        str(tmp_path / "unused_wds"),
        schema,
        fmt="csv",
        csv_headers=False,
        max_files_per_trigger=1,
    )
    _land_waves(land, waves)
    q = etl.start(
        partial(etl.webdataset_ingest_batch, out_dir=out),
        trigger_seconds=None,
        available_now=True,
    )
    q.awaitTermination(300)
    shards = sorted(glob.glob(out + "/*/shard-*.tar"))
    assert len(shards) >= 2  # one dir per landing file
    back = {
        int(r._kpf_source.split("!")[-1].split(".")[0]): r.text
        for r in A.read_text_auto(spark, out + "/*/*.tar").collect()
    }
    assert back == {1: "alpha one", 2: "beta two", 3: "gamma three", 4: "delta four"}
    # replay wave 0 through the batch hook (any replay overwrites its
    # own file-keyed shard dir byte-identically — never duplicates)
    before = {p: open(p, "rb").read() for p in shards}
    # input_file_name() spells the landing path as a file:// URI —
    # reproduce it exactly so the replay hits the same file-keyed dir
    src_tag = [
        r.tag
        for r in spark.read.schema(schema)
        .csv(str(land / "wave0.csv"))
        .select(F.input_file_name().alias("tag"))
        .limit(1)
        .collect()
    ][0]
    wave0 = spark.createDataFrame(waves[0], schema).withColumn(
        "_kpf_source", F.lit(src_tag)
    )
    etl.webdataset_ingest_batch(wave0, 999, out)
    after = {
        p: open(p, "rb").read()
        for p in sorted(glob.glob(out + "/*/shard-*.tar"))
    }
    assert set(after) == set(before), "replay must not create new shards"
    assert after == before, "replayed shards must be byte-identical"
    # member set unchanged
    back2 = {
        int(r._kpf_source.split("!")[-1].split(".")[0]): r.text
        for r in A.read_text_auto(spark, out + "/*/*.tar").collect()
    }
    assert back2 == back


def test_webdataset_byte_cap_bounds_shards(spark, tmp_path):
    """Byte-capped layout (the default): no shard's text payload exceeds
    the cap unless a single document alone does; an oversized document
    still lands (in its own shard) rather than erroring."""
    docs = [(i, "x" * (500 + 100 * (i % 7))) for i in range(30)]
    docs.append((999, "B" * 20_000))  # one doc >> cap
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "wds_bytes")
    man = write_webdataset(
        df, out, max_bytes_per_shard=4096, num_buckets=4
    ).collect()
    assert sum(r.n_members for r in man) == 31
    by_shard = {}
    for p in sorted(glob.glob(out + "/shard-*.tar")):
        with tarfile.open(p) as tf:
            by_shard[p] = [len(tf.extractfile(m).read()) for m in tf]
    for p, sizes in by_shard.items():
        # cap-and-seal (floor(cum_before/cap)): a record STARTING below
        # the boundary joins the shard, so overflow is at most the last
        # record — everything before it must fit under the cap
        assert sum(sizes[:-1]) < 4096, (p, sizes)
    # the giant doc SEALS its shard (anything after it starts past the
    # boundary) — it is always its shard's last member
    assert any(sizes[-1] == 20_000 for sizes in by_shard.values())
    assert not any(
        20_000 in sizes[:-1] for sizes in by_shard.values()
    )
    # byte-identical replay still holds under the byte cap
    first = {p: open(p, "rb").read() for p in by_shard}
    write_webdataset(df, out, max_bytes_per_shard=4096, num_buckets=4).collect()
    for p, body in first.items():
        assert open(p, "rb").read() == body


def test_webdataset_joint_caps(spark, tmp_path):
    """Both caps at once: each record charges >= byte_cap/member_cap, so
    shards can exceed NEITHER the byte cap nor the member cap."""
    docs = [(i, "y" * 10) for i in range(64)]  # tiny docs → member cap binds
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "wds_joint")
    man = write_webdataset(
        df, out, max_bytes_per_shard=8192, max_members_per_shard=5,
        num_buckets=4,
    ).collect()
    assert sum(r.n_members for r in man) == 64
    assert all(r.n_members <= 5 for r in man)
