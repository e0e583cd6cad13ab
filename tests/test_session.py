"""Session factory: Python workers import the package from any working
directory."""

import os
import subprocess
import sys

import pytest
from conftest import SF_DIR

pytestmark = pytest.mark.slow  # lane 2: see pytest.ini

# dedup_bloom_incremental runs a Python UDF pickled by reference to the
# package, so its workers must import data_pipeline_001_spark themselves
_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from data_pipeline_001_spark.session import get_spark
from data_pipeline_001_spark.plans.queries_mlprep import dedup_bloom_incremental

spark = get_spark(app_name="session-path", master="local[2]", shuffle_partitions=4)
print("rows", len(dedup_bloom_incremental(spark, sys.argv[2]).collect()))
spark.stop()
"""


def test_python_workers_import_package_outside_repo(tmp_path, repo_root):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, repo_root, SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows " in proc.stdout
