"""SparkSession factory tuned for the engine.

Replaces the reference's hand-rolled runtime (WorkQueue / MemoryTracker /
WaitingQueue — code/KustoPreForgeLib/WorkQueue.cs:18-167,
Memory/MemoryTracker.cs:21-439): Spark's scheduler, memory manager and
shuffle service provide those semantics, so none of that is ported
(SURVEY §2.4).

Scale posture: AQE on (runtime coalesce + skew-join), shuffle partitions
sized by env, Arrow enabled for the few pandas-UDF paths. On a real
cluster the same builder is used with ``master`` unset (spark-submit
decides) and ``shuffle_partitions`` scaled to ~2-3× total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the directory that holds the kusto_pre_forge_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(
    app_name: str = "kusto_pre_forge_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode defaults match the test/bench environment (local[32]);
    cluster deployments pass ``master=None`` with spark-submit conf.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): an r14 A/B with
        # parallelismFirst=false + 64m advisory size coalesced every
        # compute-heavy-but-small-byte post-shuffle stage to ONE task
        # (q2 2.2 s → 17.6 s, dedup_clusters 2.5 s → 9.8 s) — columnar
        # compression makes shuffle BYTES a bad proxy for downstream
        # COMPUTE here. Bytes-based sizing belongs on IO-bound clusters
        # (set spark.sql.adaptive.advisoryPartitionSizeInBytes ~256m
        # there, guide §9); the engine keeps Spark's parallelism-first
        # default so the post-shuffle stage count tracks the cluster.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The engine pins multi-consumer intermediates with lazy persist
        # (pinning.py); by default Spark compiles cached plans WITHOUT
        # AQE so every shuffle under a pin runs at the static partition
        # count (measured: pinning pagerank's edge frame exploded the
        # query from 99 to 563 tiny tasks at sf0.1). This flag (3.4+)
        # lets AQE coalesce/skew-split inside cached plans too; the
        # documented trade-off (cache consumers may re-shuffle if they
        # needed the static partitioning) does not apply to the pin
        # pattern, which never relies on a pinned frame's partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # Sessions that run many queries back-to-back (the bench's 169x3
        # reps, the 345-query oracle replay, a real multi-tenant service)
        # accumulate dead RDD/broadcast/shuffle state that ContextCleaner
        # only releases after a JVM GC notices the dropped references;
        # the default periodic-GC interval (30 min) is longer than an
        # entire local session, so cleanup arrives as one crisis instead
        # of a steady trickle (measured: driver-heavy queries degrade
        # 3-4x mid-session, then recover — tools/diag_cache.py). 90 s
        # keeps the cleaner live at a cost of one minor-pause System.gc()
        # per interval; env-overridable for clusters that prefer the
        # default.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "90s"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.csv.parser.columnPruning.enabled", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark reads it as
        # long when this is set — tables.load_table converts back to timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Whole-stage codegen emits one compiled class per distinct plan;
        # a session running hundreds of distinct queries fills the JVM's
        # default 240 MB code cache (measured ~130 MB by query 63 of the
        # bench), after which the JIT flushes/disables compilation and
        # every JVM-bound operator runs interpreted for the REST of the
        # session. 512 MB is the standard headroom for codegen-heavy
        # Spark drivers; harmless when unused (reserved, not committed).
        # MEASURED NEGATIVE (r15): -XX:+ExplicitGCInvokesConcurrent — the
        # obvious fix for the periodic System.gc()'s stop-the-world pause
        # — made compute-heavy queries 2-2.7x SLOWER end to end
        # (graph_triangles 1.7→3.9 s, text_bm25 1.0→1.9 s, kql_series_fit
        # 1.8→3.9 s warm medians, same box, A/B within minutes): the
        # every-90 s concurrent mark cycle of an 8 GB heap keeps G1's
        # marking threads and memory bandwidth busy almost continuously.
        # The occasional ~1 s STW full GC is the cheaper trade; bench
        # medians absorb it.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
            ),
        )
        # bucketed tables (operators/bucketing.py) land here, not in cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kpf-spark-warehouse"),
        )
    )
    if master or not SparkSession.getActiveSession():
        master = master or f"local[{cpus}]"
        builder = builder.master(master)
        if master.startswith("local"):
            # Python workers get the driver's environment, not its
            # sys.path: without the package root on their PYTHONPATH a UDF
            # that imports the package fails unless the cwd is the repo.
            builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
