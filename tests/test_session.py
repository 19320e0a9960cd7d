"""get_session in local mode lets Python workers import the package from
any working directory."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SCRIPT = textwrap.dedent(
    f"""
    import sys
    sys.path.insert(0, {str(ROOT)!r})
    from pyspark.sql import functions as F
    from kusto_pre_forge_spark.session import get_session

    spark = get_session(app_name="kpf-cwd-test", master="local[1]", shuffle_partitions=1)
    try:
        @F.udf("string")
        def package_name(_):
            import kusto_pre_forge_spark

            return kusto_pre_forge_spark.__name__

        print("WORKER", spark.range(1).select(package_name("id")).first()[0])
    finally:
        spark.stop()
    """
)


def test_worker_imports_package_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WORKER kusto_pre_forge_spark" in out.stdout, out.stderr[-3000:]
