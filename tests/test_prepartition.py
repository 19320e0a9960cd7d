"""PrePartition pipeline properties (SURVEY §5 pipeline properties a+b).

(a) completeness — union of all partition outputs row-equals the input;
(b) purity — every record in partition p satisfies hash(key) == p.
"""

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.catalog import PartitionPolicy
from kusto_pre_forge_spark.functions.hashing import kusto_preforge_hash
from kusto_pre_forge_spark.plans.prepartition import (
    PID_COL,
    partition_samples,
    prepartition,
    run_prepartition,
)

POLICY = PartitionPolicy(column_name="o_orderpriority", max_partition_count=8, seed=42)


@pytest.fixture(scope="module")
def orders(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/orders.parquet")


def _data_files(pid_dir):
    import glob

    return [f for f in glob.glob(f"{pid_dir}/*") if not f.endswith("_SUCCESS")]


def test_purity_and_range(orders):
    df = prepartition(orders, POLICY)
    bad = df.filter(
        (F.col(PID_COL) < 0)
        | (F.col(PID_COL) >= POLICY.max_partition_count)
        | (F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 8, 42))
    )
    assert bad.count() == 0


def test_samples_one_per_pid(orders):
    df = prepartition(orders, POLICY)
    samples = partition_samples(df, POLICY).collect()
    pids = [r[PID_COL] for r in samples]
    assert len(pids) == len(set(pids))
    total = sum(r.record_count for r in samples)
    assert total == orders.count()
    for r in samples:
        assert r.partition_value_sample is not None


def test_end_to_end_completeness(spark, orders, tmp_path):
    out = str(tmp_path / "pp_out")
    res = run_prepartition(orders, POLICY, out)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # round-trip rows identical (ignoring the added pid partition column)
    cols = orders.columns
    assert back.select(cols).exceptAll(orders).count() == 0
    assert orders.exceptAll(back.select(cols)).count() == 0
    # purity holds on the files as written
    reread_bad = back.filter(F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 8, 42))
    assert reread_bad.count() == 0
    assert sum(m["record_count"] for m in res.manifest) == orders.count()


def test_parallel_writers_complete_and_bounded(spark, orders, tmp_path):
    """Salted scatter: same rows, same purity, ~writers files per pid.
    One pid leaves the whole cluster as its writers
    (``defaultParallelism // 1``), which salts the exchange."""
    import glob

    pol = PartitionPolicy("o_orderpriority", 1, 42)
    writers = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "pp")
    res = run_prepartition(orders, pol, out)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    bad = back.filter(F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 1, 42))
    assert bad.count() == 0
    for d in glob.glob(f"{out}/{PID_COL}=*"):
        assert 1 <= len(_data_files(d)) <= writers + 1
    assert sum(r["record_count"] for r in res.manifest) == orders.count()


def test_scatter_sizes_itself(spark, orders, tmp_path):
    """The scatter is a by-column exchange AQE coalesces: a tiny input
    under 64 pids runs a write stage with fewer than 64 tasks."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("kpf-scatter-size", "run_prepartition 64 pids")
    try:
        run_prepartition(orders, PartitionPolicy("o_orderkey", 64, 42), str(tmp_path / "pp"))
    finally:
        sc.setJobGroup(None, None)
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup("kpf-scatter-size")
        for s in tracker.getJobInfo(j).stageIds
    ]
    tasks = [s.numTasks for s in stages if s is not None]
    assert tasks and max(tasks) < 64, tasks


@pytest.mark.parametrize(
    "fmt,compression", [("csv", "gzip"), ("parquet", None)], ids=["csv-gzip", "parquet"]
)
def test_one_file_per_pid(spark, orders, tmp_path, fmt, compression):
    """The unsalted scatter (N ≥ defaultParallelism) writes each pid
    densely: one data file per ``_kpf_pid=*`` directory, one directory
    per manifest pid."""
    import glob

    out = str(tmp_path / "pp")
    res = run_prepartition(orders, PartitionPolicy("o_orderkey", 64, 42), out, fmt, compression)
    dirs = glob.glob(f"{out}/{PID_COL}=*")
    assert len(dirs) == len(res.manifest) > 1
    for d in dirs:
        assert len(_data_files(d)) == 1, d


def test_round_robin_staging_dirs(spark, orders, tmp_path):
    """Multi-staging-dir spread (PartitionedContentSink.cs:54-65): pid p
    lands under staging[p % k], union of roots is complete, manifest
    records the assignment."""
    import glob
    import os

    staging = [str(tmp_path / f"stage{i}") for i in range(3)]
    res = run_prepartition(orders, POLICY, staging)
    assert res.staging_paths == staging

    seen_pids = set()
    for i, root in enumerate(staging):
        for d in glob.glob(os.path.join(root, f"{PID_COL}=*")):
            pid = int(d.rsplit("=", 1)[1])
            assert pid % 3 == i, f"pid {pid} must round-robin to stage{pid % 3}"
            seen_pids.add(pid)
    assert seen_pids == {m[PID_COL] for m in res.manifest}
    for m in res.manifest:
        assert m["staging_dir"] == staging[m[PID_COL] % 3]
    # no temp root left behind
    assert not glob.glob(str(tmp_path / "*__kpf_staging_tmp__*"))

    populated = [root for root in staging if glob.glob(os.path.join(root, "*"))]
    assert len(populated) >= 2, "expected pids spread over multiple roots"
    total = sum(spark.read.parquet(root).count() for root in populated)
    assert total == orders.count()


def test_round_robin_staging_file_uris(spark, orders, tmp_path):
    """Same spread through explicit file: URIs — exercises the Hadoop
    FileSystem rename path (scheme-resolved fs, not driver-local
    os/shutil), the shape an object-store deployment takes."""
    import glob
    import os

    staging = [f"file:{tmp_path}/ustage{i}" for i in range(2)]
    res = run_prepartition(orders, POLICY, staging)
    assert res.staging_paths == staging

    populated = []
    for i in range(2):
        root = f"{tmp_path}/ustage{i}"
        for d in glob.glob(os.path.join(root, f"{PID_COL}=*")):
            pid = int(d.rsplit("=", 1)[1])
            assert pid % 2 == i
        if glob.glob(os.path.join(root, "*")):
            populated.append(f"file:{root}")
    assert not glob.glob(str(tmp_path / "*__kpf_staging_tmp__*"))
    assert populated
    total = sum(spark.read.parquet(root).count() for root in populated)
    assert total == orders.count()


def test_journal_counters(spark, orders, tmp_path):
    """PerfCounterJournal analogue: plans feed named counters; the journal
    drains, sums by name, and reports in the reference's format."""
    from kusto_pre_forge_spark.journal import PerfJournal

    lines_out = []
    j = PerfJournal(delay_seconds=0.05, sink=lines_out.append)
    res = run_prepartition(orders, POLICY, str(tmp_path / "ppj"), perf_journal=j)
    assert res.journal["PrePartition.RecordCount"] == orders.count()
    assert res.journal["PrePartition.PartitionCount"] == len(res.manifest)
    assert j.snapshot() == res.journal

    j.report_counters()
    assert any(line.startswith("PrePartition.RecordCount:  ") for line in lines_out)
    # report drains: a second report with no new readings prints nothing
    n = len(lines_out)
    j.report_counters()
    assert len(lines_out) == n

    # background loop picks up later readings
    j.start_reporting()
    j.add_reading("Test.Counter", 41)
    j.add_reading("Test.Counter", 1)
    import time

    time.sleep(0.3)
    j.stop_reporting()
    assert "Test.Counter:  42" in lines_out
    assert j.snapshot()["Test.Counter"] == 42
