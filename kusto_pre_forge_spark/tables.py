"""Canonical loader for the driver-provided testdata tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf directory.
Each table's inferred schema is cached per process (``_read_parquet``),
so building a query frame issues no footer-read job after the first load.

Timestamp normalization — the reference model is "schema comes from the
destination, normalized at load" (reference: code/KustoPreForgeLib/
EtlRun.cs:160-174); this loader is the analogue and owns two shapes the
pandas/pyarrow-written testdata has taken across harness versions:

- TIMESTAMP(NANOS): Spark's vectorized reader rejects it unless
  ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case it
  surfaces as a long that is converted back to a microsecond timestamp
  (truncating, matching DuckDB's ns→us cast).
- tz-naive ``timestamp[us]``: PySpark 4 reads it as TIMESTAMP_NTZ by
  default (``spark.sql.parquet.inferTimestampNTZ.enabled`` flipped to
  true), and NTZ→numeric casts are analysis errors under ANSI. The loader
  disables NTZ inference at read time and additionally casts any NTZ
  column to session-TZ TIMESTAMP — a no-op value-wise because the session
  timezone is pinned to UTC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _driver_proof(spark: SparkSession) -> None:
    """Set the runtime-settable confs every query depends on.

    The driver harness builds its own plain SparkSession, so nothing from
    session.get_session can be assumed. Everything here is runtime-settable
    and idempotent: UTC session timezone (timestamp→string / bin must match
    the DuckDB oracle, which is TZ-naive), and Arrow for the pandas-UDF
    operators (perf only, but 10-100× on those paths).
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # PySpark 4 surfaces tz-naive parquet timestamps as TIMESTAMP_NTZ;
        # read them as session-TZ TIMESTAMP instead (session TZ is UTC, so
        # values are identical and NTZ→numeric cast errors never arise).
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def normalize_ts(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize one timestamp column to session-TZ TIMESTAMP.

    Handles both historical testdata shapes (nanos-as-long bigint and
    TIMESTAMP_NTZ) so operators can do timestamp arithmetic without
    caring how the parquet was written. No-op for anything else.
    """
    dt = dict(df.dtypes).get(ts_col)
    if dt == "bigint":  # TIMESTAMP(NANOS) read with nanosAsLong
        return df.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
        )
    if dt == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-TZ TIMESTAMP (UTC)."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


# Confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# path -> ((file length, modification time, schema confs), inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the footer job after the first
    read: schema inference runs a Spark job on every call, so the inferred
    schema is kept per path, the way the reference fetches table metadata
    once at startup. An entry is reused only while the file's length and
    modification time (Hadoop ``FileSystem`` status, so any URI scheme
    works) and the inference confs are unchanged; otherwise the footer is
    read again and the entry replaced."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(jpath)
    key = (
        status.getLen(),
        status.getModificationTime(),
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _driver_proof(spark)
    if name == "events":
        # events.ts was TIMESTAMP(NANOS) in older testdata; the vectorized
        # reader rejects it unless nanosAsLong is set. The conf is
        # runtime-settable, so set it here rather than relying on the
        # caller's session builder — the driver harness constructs its own
        # SparkSession.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Belt and suspenders: inferTimestampNTZ=false should already yield
    # TIMESTAMP, but normalize in case the conf was rejected or the plan
    # was cached before it applied.
    return _normalize_ntz(df)
