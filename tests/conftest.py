import csv
import os
import time

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from kusto_pre_forge_spark.session import get_session

    spark = get_session(app_name="kpf-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(autouse=True, scope="module")
def _session_hygiene(request):
    """Release leaked operator pins between test modules (r15): operators
    pin multi-consumer intermediates with lazy persist (pinning.py); a
    1149-test session otherwise accumulates every module's pinned plans
    and blocks in the CacheManager and degrades driver-heavy tests 3-4x
    mid-suite (measured — tools/diag_cache.py). Safe: pins are lazy
    persists with full lineage; anything still referenced recomputes."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        try:
            active.catalog.clearCache()
        except Exception:
            pass


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


def _land_waves(land, waves):
    """Write each wave of rows as a header-less CSV blob
    ``land/wave<i>.csv``. The streaming file source admits files
    oldest-first under ``maxFilesPerTrigger``; spaced mtimes pin the
    arrival order."""
    now = time.time()
    for i, wave in enumerate(waves):
        p = land / f"wave{i}.csv"
        with open(p, "w", newline="") as f:
            csv.writer(f).writerows(wave)
        os.utime(p, (now + i * 10, now + i * 10))
