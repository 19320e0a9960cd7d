"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import datagen, stats  # noqa: E402
from perfbench.trace import SparkJobs, Tracer, union_length  # noqa: E402


# ---------------------------------------------------------------- percentiles


def test_no_tail_without_eleven_samples():
    for n in range(0, 11):
        assert stats.tail_percentile(n) is None
        assert stats.tail([1.0] * n) is None


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 101, 250, 1000, 5000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    p = stats.tail_percentile(n)
    beyond = lambda q: n - math.ceil(q / 100 * n)  # noqa: E731
    assert beyond(p) >= 10
    assert p == 99 or beyond(p + 1) < 10


def test_tail_value_is_nearest_rank_sample():
    values = [float(v) for v in range(1, 101)]  # 100 samples
    p, value = stats.tail(values)
    assert p == 90
    assert value == 90.0
    assert sum(v > value for v in values) == 10


def test_settled_waits_for_drift_to_stop():
    drifting = [10.0, 5.0, 4.0, 3.2]
    assert not stats.settled(drifting, window=1, tolerance=0.1, minimum=3)
    assert stats.settled(drifting + [3.1], window=1, tolerance=0.1, minimum=3)
    assert not stats.settled([1.0, 1.0], window=1, tolerance=0.1, minimum=3)


def test_quartiles_match_statistics_module():
    import statistics

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    q1, med, q3 = stats.quartiles(vals)
    assert (q1, med, q3) == tuple(statistics.quantiles(vals, n=4))


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 10), (5, 15), (20, 25)]) == 20


# ---------------------------------------------------------------- inputs


def test_same_seed_gives_byte_identical_blobs(tmp_path):
    lineitem = datagen.build_tables(0.001)["lineitem"]
    a, _ = datagen.lineitem_blobs(lineitem, str(tmp_path / "a"), 4, seed=7)
    b, _ = datagen.lineitem_blobs(lineitem, str(tmp_path / "b"), 4, seed=7)
    for pa_, pb_ in zip(a, b):
        assert Path(pa_).read_bytes() == Path(pb_).read_bytes()


def test_different_seed_changes_row_to_blob_assignment(tmp_path):
    one = datagen.assign_rows(6000, 8, seed=1)
    two = datagen.assign_rows(6000, 8, seed=2)
    assert any(set(x) != set(y) for x, y in zip(one, two))
    # every row lands in exactly one blob either way
    assert sorted(np.concatenate(one)) == list(range(6000))
    lineitem = datagen.build_tables(0.001)["lineitem"]
    a, _ = datagen.lineitem_blobs(lineitem, str(tmp_path / "a"), 4, seed=1)
    b, _ = datagen.lineitem_blobs(lineitem, str(tmp_path / "b"), 4, seed=2)
    assert Path(a[0]).read_bytes() != Path(b[0]).read_bytes()


def test_tables_do_not_depend_on_the_workload_seed():
    assert datagen.build_tables(0.001)["documents"].equals(
        datagen.build_tables(0.001)["documents"]
    )


# ---------------------------------------------------------------- job attribution


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_job_range_counts_jobs_started_from_pool_threads(spark):
    sc = spark.sparkContext
    jobs = SparkJobs(spark)
    tracer = Tracer(True, jobs.next_job_id)
    sc.setJobGroup("perfbench-caller", "caller's group")
    try:
        with tracer.span("pooled") as span:
            spark.range(10).count()  # one job on the caller's thread
            with ThreadPoolExecutor(max_workers=2) as pool:
                futures = [
                    pool.submit(lambda n: spark.range(n).collect(), n) for n in (5, 6, 7)
                ]
                for f in futures:
                    f.result()
    finally:
        sc.setJobGroup(None, None)
    attributed = jobs.stats(span.job_ids())
    # the caller's job and the three pooled jobs are all in the id range
    assert attributed.jobs == len(span.job_ids()) >= 4
    assert attributed.tasks >= 4
    assert attributed.executor_run_ms >= 0
    # the job group alone misses the pooled jobs
    in_group = sc.statusTracker().getJobIdsForGroup("perfbench-caller")
    assert len(in_group) < attributed.jobs


def test_spans_nest_and_carry_the_operation(spark):
    jobs = SparkJobs(spark)
    tracer = Tracer(True, jobs.next_job_id)
    with tracer.span("outer", op="op-1"):
        with tracer.span("inner"):
            spark.range(3).count()
    outer, inner = tracer.spans
    assert inner.parent == outer.id and inner.op == "op-1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert set(inner.job_ids()) <= set(outer.job_ids())
    assert Tracer(False).spans == []
