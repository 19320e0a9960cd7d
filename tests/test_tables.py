"""tables.load_table's schema cache: a repeated load issues no Spark job,
and the cached schema is dropped when the file or an inference conf
changes."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kusto_pre_forge_spark import tables
from kusto_pre_forge_spark.tables import load_table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_second_load_issues_no_job(spark, sf_smoke):
    first = load_table(spark, sf_smoke, "orders")
    j0 = _next_job_id(spark)
    second = load_table(spark, sf_smoke, "orders")
    assert _next_job_id(spark) == j0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey",
        "r_name",
    ]
    pq.write_table(
        pa.table(
            {"r_regionkey": [0, 1, 2], "r_comment": ["x", "y", "z"], "r_n": [1.0, 2.0, 3.0]}
        ),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment", "r_n"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]


def test_nanos_conf_toggle_reinfers_events(spark, tmp_path):
    """events.ts as TIMESTAMP(NANOS): load_table reads it under
    nanosAsLong=true (bigint, converted back to a timestamp). With the
    conf off, Spark rejects the type at inference — so a read that raises
    proves the schema was inferred again rather than served from the
    entry cached under the other conf value."""
    path = tmp_path / "events.parquet"
    ts = pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path)
    assert dict(load_table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp"
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            tables._read_parquet(spark, str(path))
        spark.conf.set(NANOS, "true")
        assert dict(tables._read_parquet(spark, str(path)).dtypes)["ts"] == "bigint"
    finally:
        spark.conf.set(NANOS, before)
