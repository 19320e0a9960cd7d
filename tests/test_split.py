"""Split pipeline properties (SURVEY §5): completeness, line integrity,
shard cap, header-per-shard, lineage manifest."""

import glob
import gzip

import pytest

from pyspark.sql import functions as F

from kusto_pre_forge_spark.config import Compression, RunSettings
from kusto_pre_forge_spark.plans import split as split_mod
from kusto_pre_forge_spark.plans.split import run_split

CAP = 16 * 1024


@pytest.fixture(scope="module")
def csv_blob(spark, sf_smoke, tmp_path_factory):
    """One headered CSV blob serialized from orders."""
    out = tmp_path_factory.mktemp("blob")
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    tmp = str(out / "tmp")
    orders.coalesce(1).write.option("header", True).csv(tmp)
    src = glob.glob(f"{tmp}/*.csv")[0]
    import shutil

    blob = str(out / "orders.csv")
    shutil.move(src, blob)
    with open(blob) as f:
        lines = f.read().splitlines()
    return blob, lines


def read_shards(output_path):
    """{shard_id: [lines]} from written shard files (txt or txt.gz)."""
    shards = {}
    for d in sorted(glob.glob(f"{output_path}/*/_kpf_shard_id=*")):
        sid = d.rsplit("=", 1)[1]
        lines = []
        for f in sorted(glob.glob(f"{d}/part-*")):
            if f.endswith(".gz"):
                with gzip.open(f, "rt") as fh:
                    lines += fh.read().splitlines()
            else:
                with open(f) as fh:
                    lines += fh.read().splitlines()
        shards[sid] = lines
    return shards


def test_split_properties_with_header_gzip(spark, tmp_path, csv_blob):
    blob, lines = csv_blob
    header, body = lines[0], lines[1:]
    settings = RunSettings(csv_headers=True, output_compression=Compression.GZIP)
    res = run_split(spark, blob, settings, str(tmp_path / "shards"), max_bytes_per_shard=CAP)
    shards = read_shards(str(tmp_path / "shards"))

    # (f) header exactly once per shard, as the first line
    for sid, slines in shards.items():
        assert slines[0] == header, f"shard {sid} missing header"
        assert slines.count(header) == 1

    # (a) completeness: all body records present exactly once, across shards
    all_records = [ln for slines in shards.values() for ln in slines[1:]]
    assert sorted(all_records) == sorted(body)

    # (c) line integrity: every output line is a complete input line
    input_set = set(body) | {header}
    assert all(ln in input_set for slines in shards.values() for ln in slines)

    # (d) cap: every shard's body ≤ cap + one record slack (seal-after-cross)
    max_record = max(len(ln) + 1 for ln in body)
    for sid, slines in shards.items():
        nbytes = sum(len(ln) + 1 for ln in slines[1:])
        assert nbytes <= CAP + max_record, f"shard {sid} over cap: {nbytes}"

    # every shard except the last is full (≥ cap - max_record)
    sids = sorted(shards)
    for sid in sids[:-1]:
        nbytes = sum(len(ln) + 1 for ln in shards[sid][1:])
        assert nbytes >= CAP - max_record

    # manifest: ids zero-padded "00000" (TextPartitionSink.cs:53), exactly
    # one last shard, record counts match
    assert sorted(s["_kpf_shard_id"] for s in res.shards) == sids
    assert all(len(s["_kpf_shard_id"]) == 5 for s in res.shards)
    assert sum(1 for s in res.shards if s["_kpf_last_shard"]) == 1
    by_sid = {s["_kpf_shard_id"]: s for s in res.shards}
    for sid in sids:
        assert by_sid[sid]["record_count"] == len(shards[sid]) - 1


def test_split_no_header_mode(spark, tmp_path, csv_blob):
    blob, lines = csv_blob
    settings = RunSettings(csv_headers=False)
    run_split(spark, blob, settings, str(tmp_path / "shards2"), max_bytes_per_shard=CAP)
    shards = read_shards(str(tmp_path / "shards2"))
    # no peel: header line is just a record; all lines exactly once
    all_records = [ln for slines in shards.values() for ln in slines]
    assert sorted(all_records) == sorted(lines)


def test_shard_assign_distributed_equals_single_window(spark, tmp_path):
    """The two-phase prefix sum must equal the naive whole-source window
    on a file the scanner actually cuts into many splits."""
    from pyspark.sql import Window

    lines = [f"row-{i:04d}-" + "x" * (i % 37) for i in range(2000)]
    p = tmp_path / "big.txt"
    p.write_text("\n".join(lines) + "\n")

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        df = split_mod.read_lines(spark, str(p))
        n_splits = df.select(F.spark_partition_id()).distinct().count()
        assert n_splits > 4, f"expected a multi-split scan, got {n_splits}"
        got = split_mod.shard_assign(df, max_bytes_per_shard=4096).collect()

        rec = F.octet_length(F.col("Text")) + F.lit(1)
        w = Window.partitionBy(split_mod.SOURCE_COL).orderBy(split_mod.ORDER_COL)
        naive = (
            df.withColumn(
                "_n", F.floor((F.sum(rec).over(w) - rec) / F.lit(4096)).cast("int")
            )
            .select("Text", F.format_string("%05d", F.col("_n")).alias("shard"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    g = {r.Text: r[split_mod.SHARD_COL] for r in got}
    n = {r.Text: r.shard for r in naive}
    assert g == n
    # last-shard flag marks exactly the max shard's rows
    mx = max(g.values())
    for r in got:
        assert r[split_mod.LAST_SHARD_COL] == (r[split_mod.SHARD_COL] == mx)


@pytest.mark.parametrize("width", [100, 2])  # 50 buckets; 2,500 buckets
def test_keyed_shard_assign_equals_global_window(spark, width):
    """The bucketed two-phase prefix sum must equal the naive global
    cumulative-sum window, including non-contiguous and skewed buckets
    and thousands of buckets."""
    from pyspark.sql import Window

    rows = [(i * 7 % 5000, i % 13, 10 + (i * 31 % 97)) for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, sub long, nb long").repartition(8)
    got = (
        split_mod.keyed_shard_assign(
            df,
            order_cols=["k", "sub"],
            bucket=F.floor(F.col("k") / F.lit(width)),
            rec_bytes=F.col("nb"),
            max_bytes_per_shard=997,
        )
        .select("k", "sub", "shard_id")
        .collect()
    )
    w = Window.partitionBy(F.lit(0)).orderBy("k", "sub")
    naive = (
        df.withColumn(
            "shard_id",
            F.floor((F.sum("nb").over(w) - F.col("nb")) / F.lit(997)).cast("int"),
        )
        .select("k", "sub", "shard_id")
        .collect()
    )
    assert {(r.k, r.sub): r.shard_id for r in got} == {
        (r.k, r.sub): r.shard_id for r in naive
    }


def test_run_split_manifest_cap_spills_to_parquet(spark, tmp_path, csv_blob):
    """Over max_manifest_rows the per-shard manifest must stay distributed
    (parquet under the output root) instead of collecting to the driver;
    journal counters still come back exact via the distributed aggregate."""
    from kusto_pre_forge_spark.config import RunSettings

    blob, _ = csv_blob
    out = str(tmp_path / "capped")
    res = run_split(
        spark,
        blob,
        RunSettings(csv_headers=True),
        out,
        max_bytes_per_shard=4 * 1024,
        max_manifest_rows=1,  # force the spill path
    )
    assert res.shards == []
    assert res.manifest_path == f"{out}/_kpf_manifest"
    man = spark.read.parquet(res.manifest_path)
    n_shards = man.count()
    assert n_shards > 1
    assert res.journal["TextSplit.ShardsSealed"] == n_shards
    total_recs = sum(r["record_count"] for r in man.collect())
    assert res.journal["TextSplit.RecordCount"] == total_recs
    # underscore prefix keeps the manifest invisible to the shard readers
    assert not spark.read.text(out).isEmpty()
