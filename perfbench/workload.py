"""One benchmark run of one workload, in one process.

    python3 perfbench/workload.py --workload W --seed N --seconds S \
        --trace 0|1 --work DIR --out RESULT.json

``perfbench/run.py`` starts this process, watches its memory from outside
and turns the result file into the benchmark's output line. The run:

1. starts the engine's session (``local[nproc]``), generates the inputs from
   the seed and warms up until operation time stops drifting;
2. times operations, one at a time from a single client, for ``S`` seconds;
3. checks the outputs; a failed check counts as a failed operation;
4. with ``--trace 1``, records spans around every call into the engine and
   reads the Spark jobs each span caused from the status store.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from pathlib import Path

STARTED = time.time()
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

from perfbench import datagen, proc, stats  # noqa: E402
from perfbench.trace import JobStats, SparkJobs, Tracer  # noqa: E402

# ---------------------------------------------------------------- settings

#: etl, bulk half: lineitem at this scale (60k rows) cut into eight gzip CSV
#: blobs, hash-partitioned on the order key read as a string
BULK_SCALE = 0.01
BULK_BLOBS = 8
BULK_KEY = "l_orderkey"
BULK_PARTITIONS = 64
POLICY_SEED = 42

#: etl, streaming half: sf0.1 orders cut into 64 slices of about 2.3k rows,
#: one slice per landed blob
STREAM_SCALE = 0.1
STREAM_SLICES = 64
STREAM_KEY = "o_orderpriority"
STREAM_PARTITIONS = 8
#: a run measures at least this many blobs, whatever ``--seconds`` says
STREAM_MIN_BLOBS = 10

#: query_mix: tables at this scale, these queries (seeded order); a run
#: warms up with MIX_WARM_PASSES passes over all of them and measures at
#: least MIX_MIN_PASSES
MIX_SCALE = 0.003
MIX_WARM_PASSES = 2
MIX_MIN_PASSES = 3
MIX_QUERIES = [
    "kql_summarize_q1",
    "dedup_clusters",
    "text_bpe",
    "corpus_sft_tokenize",
    "kqltext_parse_kv",
]
EXPECTED_PATH = Path(__file__).resolve().parent / "expected_checksums.json"

WORKLOADS = ("etl", "query_mix")


# ---------------------------------------------------------------- run state


class Run:
    """Counters, timings and engine handles of one run.

    Operations come in kinds (the bulk PrePartition, one streamed blob, one
    registered query); ``times`` holds the measured wall seconds per kind
    and ``records`` the per-operation layer figures of a traced run.
    """

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = Path(args.work)
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {"layers": {}}
        self.times: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.steal: dict[str, list[float]] = {}
        self._cpu0 = 0.0
        self._host0 = (0, 0)
        self.records: dict[str, list[dict]] = {}
        self.first_op_wall: float | None = None
        self.spark = None
        self.jobs: SparkJobs | None = None
        self.tracer = Tracer(bool(args.trace), lambda: self.jobs.next_job_id())

    def start_session(self, master: str | None = None):
        from kusto_pre_forge_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(app_name=f"perfbench-{self.args.workload}", master=master)
        self.jobs = SparkJobs(self.spark)
        self.setup.setdefault("session.start_s", time.perf_counter() - t0)
        return self.spark

    @contextmanager
    def phase(self, name: str):
        """Time a set-up phase; phases of the same name add up."""
        t0 = time.perf_counter()
        yield
        key = f"session.{name}_s"
        self.setup[key] = self.setup.get(key, 0.0) + time.perf_counter() - t0

    def timed_start(self) -> None:
        """Called just before a timed operation starts; the first one ends
        set-up."""
        if self.first_op_wall is None:
            self.first_op_wall = time.time()
        self._cpu0 = proc.tree_cpu_s(os.getpid())
        self._host0 = proc.host_cpu_ticks()

    def measured(self, kind: str, seconds: float) -> None:
        """Called just after a timed operation ended (before any tracing
        work), with its wall seconds."""
        self.cpu.setdefault(kind, []).append(proc.tree_cpu_s(os.getpid()) - self._cpu0)
        steal, total = proc.host_cpu_ticks()
        share = (steal - self._host0[0]) / max(total - self._host0[1], 1)
        self.steal.setdefault(kind, []).append(share)
        self.attempted += 1
        self.times.setdefault(kind, []).append(seconds)

    def record(self, kind: str, record: dict) -> None:
        """Keep the layer figures of a traced operation."""
        self.records.setdefault(kind, []).append(record)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: FAILED: {msg}", file=sys.stderr, flush=True)

    def job_stats(self, span) -> JobStats:
        return self.jobs.stats(span.job_ids())

    def end_to_end(self) -> dict[str, float]:
        """``pass_ms``: sum over kinds of each kind's median operation time,
        the time of one typical operation of every kind. ``op_median_ms``:
        the geometric mean of the same medians. ``pass_cpu_ms``: the sum
        over kinds of the median CPU time the process tree (driver, JVM,
        Python workers) spent during an operation. Medians, so that a
        single operation hit by a pause of the host moves none of them."""
        medians = [stats.median(t) for t in self.times.values()]
        return {
            "op_median_ms": stats.geomean(medians) * 1000,
            "pass_ms": sum(medians) * 1000,
            "pass_cpu_ms": sum(stats.median(c) for c in self.cpu.values()) * 1000,
        }

    def pass_layers(self) -> None:
        """Per-layer ``pass.*`` metrics: for each figure, the sum over kinds
        of its mean per operation, i.e. its share of one pass."""
        if not self.records:
            return
        keys = next(iter(self.records.values()))[0]["layer"].keys()
        for key in keys:
            self.layer[f"pass.{key}"] = sum(
                mean([r["layer"][key] for r in recs]) for recs in self.records.values()
            )
        self.layer["pass.persistent_rdds_after"] = max(
            r["layer"]["persistent_rdds_after"] for recs in self.records.values() for r in recs
        )
        wall = self.layer["pass.build_ms"] + self.layer["pass.action_ms"]
        self.layer["pass.busy_ratio"] = self.layer["pass.executor_run_ms"] / (wall * self.cores)

    def result(self) -> dict:
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors[:20],
            "first_op_wall": self.first_op_wall,
            "setup": self.setup,
            "e2e": self.end_to_end(),
            "layer": self.layer,
            "detail": dict(self.detail, op_s=self.times, op_cpu_s=self.cpu, op_steal=self.steal),
        }


def mean(values) -> float:
    return float(np.mean(values)) if len(values) else 0.0


def span_ms(run: Run, name: str, ops: set) -> list[float]:
    """Durations of the spans called ``name`` that belong to ``ops``."""
    return [s.ms for s in run.tracer.named(name) if s.op in ops]


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def dir_size(path: Path) -> tuple[float, int]:
    """(MB, data files) under ``path``, ignoring Spark's marker/crc files."""
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total / 1e6, files


def warm_up(op, window: int, tolerance: float, minimum: int, maximum: int) -> list[float]:
    """Run ``op()`` (which returns its wall seconds) until operation time has
    stopped drifting (``stats.settled``) or ``maximum`` operations ran."""
    times: list[float] = []
    while len(times) < maximum:
        times.append(op())
        if stats.settled(times, window, tolerance, minimum):
            break
    return times


def op_layer(run: Run, build_ms: float, action_ms: float, build_span, action_span) -> dict:
    """Build/action split of one operation and the Spark work each caused."""
    b, a = run.job_stats(build_span), run.job_stats(action_span)
    return {
        "build_ms": build_ms,
        "action_ms": action_ms,
        "build_jobs": b.jobs,
        "action_jobs": a.jobs,
        "tasks": b.tasks + a.tasks,
        "executor_run_ms": b.executor_run_ms + a.executor_run_ms,
        "executor_cpu_ms": b.executor_cpu_ms + a.executor_cpu_ms,
        "gc_ms": b.gc_ms + a.gc_ms,
        "shuffle_write_mb": b.shuffle_write_mb + a.shuffle_write_mb,
        "outside_jobs_ms": build_ms + action_ms - b.in_jobs_ms - a.in_jobs_ms,
        "persistent_rdds_after": run.jobs.persistent_rdds(),
    }


def xor_fold_pid(key: str, partitions: int, seed: int) -> int:
    """The reference partition function, written independently of the
    engine: XOR of the key's UTF-8 bytes into the seed, modulo the count."""
    h = seed
    for b in key.encode("utf-8"):
        h ^= b
    return h % partitions


def checksum(df) -> tuple[int, int]:
    """Row count and order-insensitive checksum over every column -- the
    action bench.py uses for projection-shaped queries."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*df.columns).alias("_h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("c"))
        .collect()[0]
    )
    return int(row["n"]), int(row["c"] or 0)


# ---------------------------------------------------------------- etl: bulk


def lineitem_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("l_orderkey", T.StringType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.DateType()),
        ]
    )


class Bulk:
    """The bulk PrePartition: ``list_source`` -> ``read_landing`` with an
    explicit schema -> ``run_prepartition`` to gzip CSV in a fresh
    directory."""

    def __init__(self, run: Run, lineitem) -> None:
        from kusto_pre_forge_spark.catalog import PartitionPolicy
        from kusto_pre_forge_spark.config import DataFormat, RunSettings

        self.run = run
        self.blob_dir = run.work / "landing"
        _paths, self.csv_bytes = datagen.lineitem_blobs(
            lineitem, str(self.blob_dir), BULK_BLOBS, run.seed
        )
        self.rows = lineitem.num_rows
        self.schema = lineitem_schema()
        self.settings = RunSettings(fmt=DataFormat.CSV, csv_headers=True)
        self.policy = PartitionPolicy(BULK_KEY, BULK_PARTITIONS, POLICY_SEED)
        self.out_root = fresh_dir(run.work / "out")
        self.ops = 0
        self.last = None

    def op(self, timed: bool, blobs: int = BULK_BLOBS) -> float:
        """One PrePartition over the first ``blobs`` blobs (all of them
        unless priming the JVM during warm-up); returns its wall seconds."""
        from kusto_pre_forge_spark.plans.prepartition import run_prepartition
        from kusto_pre_forge_spark.sources.blob import list_source, read_landing

        run, tr = self.run, self.run.tracer
        spark = run.spark
        i, self.ops = self.ops, self.ops + 1
        if self.last is not None:
            shutil.rmtree(self.last["out"], ignore_errors=True)
        out = self.out_root / f"op-{i}"
        op_id = f"bulk-{i}"
        if timed:
            run.timed_start()
        t0 = time.perf_counter()
        with tr.span("etl.bulk", op=op_id):
            with tr.span("build") as build_span:
                with tr.span("sources.list_source"):
                    paths = list_source(spark, str(self.blob_dir / "lineitem-"), ".csv.gz")[:blobs]
                with tr.span("sources.read_landing") as read_span:
                    df = read_landing(spark, paths, self.settings, schema=self.schema)
            t1 = time.perf_counter()
            with tr.span("plans.run_prepartition") as action_span:
                res = run_prepartition(df, self.policy, str(out), fmt="csv", compression="gzip")
        t2 = time.perf_counter()
        self.last = {"out": out, "manifest": res.manifest}
        if timed:
            run.measured("bulk", t2 - t0)
            if tr.enabled:
                run.record("bulk", {
                    "op": op_id,
                    "layer": op_layer(run, (t1 - t0) * 1000, (t2 - t1) * 1000, build_span, action_span),
                    "read_jobs": run.job_stats(read_span).jobs,
                    "prepartition": run.job_stats(action_span),
                })
            count = res.journal["PrePartition.RecordCount"]
            if count != self.rows:
                run.fail(f"{op_id}: PrePartition.RecordCount {count} != input rows {self.rows}")
        return t2 - t0

    def check(self) -> None:
        """Read the newest output back: row count and order-insensitive
        checksum equal the input's; every key's recomputed pid equals its
        directory; per-pid counts equal the manifest."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from kusto_pre_forge_spark.plans.prepartition import PID_COL
        from kusto_pre_forge_spark.sources.blob import read_landing

        spark, run = self.run.spark, self.run
        cols = [f.name for f in self.schema.fields]
        src = read_landing(spark, str(self.blob_dir), self.settings, schema=self.schema)
        want = checksum(src.select(*cols))
        back_schema = T.StructType(
            list(self.schema.fields) + [T.StructField("_kpf_source", T.StringType())]
        )
        back = spark.read.schema(back_schema).csv(str(self.last["out"]))
        got = checksum(back.select(*cols))
        if want != got or want[0] != self.rows:
            run.fail(f"bulk read-back (rows, checksum) {got} != input {want}, {self.rows} rows")
        pairs = back.select(BULK_KEY, PID_COL).distinct().collect()
        n, seed = self.policy.max_partition_count, self.policy.seed
        wrong = sum(1 for key, pid in pairs if xor_fold_pid(key, n, seed) != pid)
        split = len(pairs) - len({key for key, _pid in pairs})
        if wrong or split:
            run.fail(f"bulk: {wrong} keys in the wrong pid directory, {split} keys split")
        counts = back.groupBy(PID_COL).agg(F.count("*").alias("n")).collect()
        by_pid = {r[PID_COL]: r["n"] for r in counts}
        manifest = {m[PID_COL]: m["record_count"] for m in self.last["manifest"]}
        if by_pid != manifest:
            run.fail("bulk: per-pid row counts differ from the manifest")

    def layers(self) -> dict[str, float]:
        run = self.run
        recs = run.records["bulk"]
        ops = {r["op"] for r in recs}
        pp: list[JobStats] = [r["prepartition"] for r in recs]
        pp_ms = span_ms(run, "plans.run_prepartition", ops)
        counts = [m["record_count"] for m in self.last["manifest"]]
        out_mb, out_files = dir_size(self.last["out"])
        return {
            "sources.list_source_ms": stats.median(span_ms(run, "sources.list_source", ops)),
            "sources.read_landing_ms": stats.median(span_ms(run, "sources.read_landing", ops)),
            "sources.read_landing.jobs": mean([r["read_jobs"] for r in recs]),
            "plans.run_prepartition_ms": stats.median(pp_ms),
            "plans.run_prepartition.jobs": mean([s.jobs for s in pp]),
            "plans.run_prepartition.tasks": mean([s.tasks for s in pp]),
            "plans.run_prepartition.executor_run_ms": mean([s.executor_run_ms for s in pp]),
            "plans.run_prepartition.executor_cpu_ms": mean([s.executor_cpu_ms for s in pp]),
            "plans.run_prepartition.gc_ms": mean([s.gc_ms for s in pp]),
            "plans.run_prepartition.shuffle_write_mb": mean([s.shuffle_write_mb for s in pp]),
            "plans.run_prepartition.busy_ratio": mean(
                [s.executor_run_ms / (ms * run.cores) for s, ms in zip(pp, pp_ms)]
            ),
            "plans.partition_skew": max(counts) / (sum(counts) / len(counts)),
            "plans.partitions_filled": len(counts),
            "sinks.output_mb": out_mb,
            "sinks.output_files": out_files,
        }


# ---------------------------------------------------------------- etl: stream


def orders_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.DateType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("blob_id", T.LongType()),
        ]
    )


_PROGRESS_KEYS = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)


class Stream:
    """Per-blob streaming ingest: land one orders blob by atomic rename,
    then ``processAllAvailable()`` on one long-lived
    ``StreamingEtl.start_prepartition``."""

    def __init__(self, run: Run, orders) -> None:
        self.run = run
        self.orders = orders
        self.slices = datagen.assign_rows(self.orders.num_rows, STREAM_SLICES, run.seed)
        self.landing = fresh_dir(run.work / "stream-landing")
        self.staging = fresh_dir(run.work / "stream-staging")
        self.ckpt = run.work / "stream-checkpoint"
        self.out = run.work / "stream-out"
        self.query = None
        self.blobs = 0
        self.landed_rows = 0
        self.seen_batches: set[int] = set()

    def start(self) -> None:
        from kusto_pre_forge_spark.catalog import PartitionPolicy
        from kusto_pre_forge_spark.streaming.ingest import StreamingEtl

        etl = StreamingEtl(
            self.run.spark,
            landing_dir=str(self.landing),
            checkpoint_dir=str(self.ckpt),
            output_dir=str(self.out),
            schema=orders_schema(),
            fmt="csv",
        )
        self.query = etl.start_prepartition(
            PartitionPolicy(STREAM_KEY, STREAM_PARTITIONS, POLICY_SEED),
            trigger_seconds=None,
        )

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def op(self, timed: bool) -> float:
        run, tr = self.run, self.run.tracer
        k, self.blobs = self.blobs, self.blobs + 1
        rows = self.slices[k % STREAM_SLICES]
        staged = self.staging / f"orders-{k:05d}.csv"
        staged.write_bytes(datagen.orders_blob(self.orders, rows, k))
        files_before = dir_size(self.out)[1] if tr.enabled and timed else 0
        op_id = f"blob-{k}"
        if timed:
            run.timed_start()
        t0 = time.perf_counter()
        with tr.span("etl.stream", op=op_id):
            with tr.span("streaming.land") as land_span:
                os.rename(staged, self.landing / staged.name)
            t1 = time.perf_counter()
            with tr.span("streaming.processAllAvailable") as process_span:
                self.query.processAllAvailable()
        t2 = time.perf_counter()
        if timed:
            run.measured("stream", t2 - t0)
        self.landed_rows += len(rows)
        batches = [
            p
            for p in self.query.recentProgress
            if p["batchId"] not in self.seen_batches and p["numInputRows"] > 0
        ]
        self.seen_batches.update(p["batchId"] for p in batches)
        if timed and tr.enabled:
            run.record("stream", {
                "op": op_id,
                "wall_ms": (t2 - t0) * 1000,
                "batches": batches,
                "files": dir_size(self.out)[1] - files_before,
                "layer": op_layer(run, (t1 - t0) * 1000, (t2 - t1) * 1000, land_span, process_span),
            })
        return t2 - t0

    def check(self) -> None:
        """Output rows equal the landed rows, with no duplicate
        (blob_id, o_orderkey)."""
        from pyspark.sql import functions as F

        got = (
            self.run.spark.read.parquet(str(self.out))
            .agg(F.count("*").alias("n"), F.countDistinct("blob_id", "o_orderkey").alias("d"))
            .collect()[0]
        )
        if got["n"] != self.landed_rows:
            self.run.fail(f"stream output rows {got['n']} != landed rows {self.landed_rows}")
        if got["d"] != got["n"]:
            self.run.fail(f"stream: {got['n'] - got['d']} duplicate (blob_id, o_orderkey) rows")

    def layers(self) -> dict[str, float]:
        recs = self.run.records["stream"]
        out = {}
        for key in _PROGRESS_KEYS:
            out[f"streaming.{key}_ms"] = mean(
                [sum(b["durationMs"].get(key, 0) for b in r["batches"]) for r in recs]
            )
        out["streaming.trigger_wait_ms"] = mean(
            [
                r["wall_ms"] - sum(b["durationMs"].get("triggerExecution", 0) for b in r["batches"])
                for r in recs
            ]
        )
        n_batches = sum(len(r["batches"]) for r in recs)
        per_batch = max(n_batches, 1)
        out["streaming.batches_per_blob"] = n_batches / len(recs)
        out["streaming.jobs_per_batch"] = sum(r["layer"]["action_jobs"] for r in recs) / per_batch
        out["streaming.tasks_per_batch"] = sum(r["layer"]["tasks"] for r in recs) / per_batch
        out["streaming.executor_run_ms"] = mean([r["layer"]["executor_run_ms"] for r in recs])
        out["streaming.checkpoint_kb"] = dir_size(self.ckpt)[0] * 1000
        out["sinks.files_per_batch"] = sum(r["files"] for r in recs) / per_batch
        return out


# ---------------------------------------------------------------- etl


def etl(run: Run) -> None:
    """Bulk PrePartition, then per-blob streaming ingest, in one session.

    Each half gets half of the measuring time. The bulk half is measured
    first so set-up ends at its first timed operation; the stream starts
    after it, so its idle polling never overlaps a bulk operation.
    """
    run.start_session()
    with run.phase("inputs"):
        bulk = Bulk(run, datagen.build_tables(BULK_SCALE)["lineitem"])
        stream = Stream(run, datagen.build_tables(STREAM_SCALE)["orders"])
    half = run.seconds / 2

    with run.phase("warmup"):
        # the first operation runs interpreted and compiles the hot paths;
        # one blob is enough for that. Full operations keep getting faster
        # for about five more (JIT), so at least four run before the
        # drift test
        primer = bulk.op(False, blobs=1)
        warm = warm_up(lambda: bulk.op(False), window=1, tolerance=0.08, minimum=4, maximum=8)
    run.detail["bulk_warmup_s"] = [primer] + warm
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < half or len(run.times.get("bulk", [])) < 2:
        bulk.op(True)
    bulk.check()

    try:
        with run.phase("warmup"):
            stream.start()
            warm = warm_up(lambda: stream.op(False), window=3, tolerance=0.15, minimum=6, maximum=10)
        run.detail["stream_warmup_blobs"] = len(warm)
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < half or len(run.times.get("stream", [])) < STREAM_MIN_BLOBS:
            stream.op(True)
    finally:
        stream.stop()
    stream.check()

    bulk_s = stats.median(run.times["bulk"])
    lat = [t * 1000 for t in run.times["stream"]]
    tail = stats.tail(lat)
    run.detail.update(
        etl_mb_per_s=bulk.csv_bytes / 1e6 / bulk_s,
        bulk_op_s=run.times["bulk"],
        bulk_input_csv_mb=bulk.csv_bytes / 1e6,
        bulk_input_rows=bulk.rows,
        ingest_p50_ms=stats.median(lat),
        ingest_tail_ms=tail[1] if tail else None,
        ingest_tail_percentile=tail[0] if tail else None,
        ingest_samples=len(lat),
        ingest_ms=lat,
        stream_rows_per_blob=mean([len(s) for s in stream.slices]),
    )
    if run.tracer.enabled:
        run.pass_layers()
        run.detail["layers"].update(bulk.layers())
        run.detail["layers"].update(stream.layers())
        run.detail["layers"]["plans.run_prepartition.scaling_vs_1core"] = (
            single_core_op_s(run, bulk) / bulk_s
        )


def single_core_op_s(run: Run, bulk: Bulk) -> float:
    """The bulk operation on ``local[1]`` after one warm-up operation, for
    the core-scaling figure; returns its wall seconds."""
    run.spark.stop()
    run.start_session(master="local[1]")
    run.tracer.enabled = False
    times = [bulk.op(False) for _ in range(2)]
    run.detail["single_core_bulk_op_s"] = times
    return times[-1]


# ---------------------------------------------------------------- query_mix


def query_mix(run: Run) -> None:
    """Registered queries built by ``queries()[name](spark, dir)`` and
    materialised with the row-count + checksum action, one at a time, in a
    seeded order; the cache is cleared between queries, outside timing."""
    import __spark_entry__ as entry

    spark = run.start_session()
    with run.phase("inputs"):
        tables = str(run.work / "tables")
        datagen.write_tables(tables, MIX_SCALE)
    order = [MIX_QUERIES[i] for i in np.random.default_rng(run.seed).permutation(len(MIX_QUERIES))]
    builders = entry.queries()
    expected = {}
    if EXPECTED_PATH.exists():
        expected = json.loads(EXPECTED_PATH.read_text()).get(str(MIX_SCALE), {})
    results: dict[str, list[tuple[int, int]]] = {q: [] for q in MIX_QUERIES}

    def op(name: str, timed: bool) -> float:
        tr = run.tracer
        op_id = f"{name}-{len(results[name])}"
        if timed:
            run.timed_start()
        t0 = time.perf_counter()
        with tr.span("mix.query", op=op_id, query=name):
            with tr.span("mix.build") as build_span:
                df = builders[name](spark, tables)
            t1 = time.perf_counter()
            with tr.span("mix.action") as action_span:
                res = checksum(df)
        t2 = time.perf_counter()
        results[name].append(res)
        if timed:
            run.measured(name, t2 - t0)
            if tr.enabled:
                run.record(name, {
                    "op": op_id,
                    "layer": op_layer(run, (t1 - t0) * 1000, (t2 - t1) * 1000, build_span, action_span),
                })
            first = results[name][0]
            if res != first:
                run.fail(f"{name}: result {res} differs from its first rep {first}")
            elif name not in expected:
                run.fail(f"{name}: no recorded checksum in {EXPECTED_PATH.name}")
            elif list(res) != expected[name]:
                run.fail(f"{name}: result {list(res)} != recorded {expected[name]}")
        spark.catalog.clearCache()
        return t2 - t0

    # a fixed count, because a drift test costs passes the run's time does
    # not allow: on a 4-vCPU VM the cold pass takes 4-5x a warm one, the
    # second 1.3-1.5x and the third about 1.1x. With a fixed count every
    # run measures the same passes of that curve
    with run.phase("warmup"):
        run.detail["warmup_pass_s"] = [
            sum(op(name, False) for name in order) for _ in range(MIX_WARM_PASSES)
        ]
    passes = 0
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < run.seconds or passes < MIX_MIN_PASSES:
        for name in order:
            op(name, True)
        passes += 1

    medians = {q: stats.median(t) for q, t in run.times.items()}
    run.detail.update(
        mix_total_s=sum(medians.values()),
        mix_geomean_s=stats.geomean(list(medians.values())),
        passes=passes,
        order=order,
        query_s=medians,
        observed={q: list(r[0]) for q, r in results.items()},
    )
    if run.tracer.enabled:
        run.pass_layers()
        layers = run.detail["layers"]
        layers["pinning.persistent_rdds_after"] = run.layer["pass.persistent_rdds_after"]
        for q in MIX_QUERIES:
            recs = [r["layer"] for r in run.records[q]]
            layers[f"mix.{q}.build_ms"] = stats.median([r["build_ms"] for r in recs])
            layers[f"mix.{q}.action_ms"] = stats.median([r["action_ms"] for r in recs])
            layers[f"mix.{q}.jobs"] = mean([r["build_jobs"] + r["action_jobs"] for r in recs])
            layers[f"mix.{q}.executor_run_ms"] = mean([r["executor_run_ms"] for r in recs])


# ---------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    run = Run(args)
    launched = os.environ.get("PERFBENCH_LAUNCHED")
    if launched:
        run.setup["session.process_s"] = STARTED - float(launched)
    try:
        globals()[args.workload](run)
        if args.trace:
            run.tracer.write(str(Path(args.out).with_suffix(".spans.json")))
            run.layer.update(run.setup)
        Path(args.out).write_text(json.dumps(run.result(), default=str))
    finally:
        if run.spark is not None:
            run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
