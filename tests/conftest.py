import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = "/root/testdata/sf0.001"
SF1_SOURCE = "/root/testdata/sf0.1"


def spark_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return the number of Spark
    jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"pipeline-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pipeline job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def control_rewrites(monkeypatch):
    """A list that gets one entry (the table's path) per control-table
    rewrite (``ControlTable._overwrite``) while the test runs."""
    from data_pipeline_001_spark.plans.control_table import ControlTable

    calls = []
    overwrite = ControlTable._overwrite

    def counted(self, tables):
        calls.append(self.path)
        return overwrite(self, tables)

    monkeypatch.setattr(ControlTable, "_overwrite", counted)
    return calls


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_001_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from data_pipeline_001_spark.session import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def repo_root():
    return REPO_ROOT


@pytest.fixture(scope="session")
def sf1_dir():
    """The generated sf1 point (10 key-offset replicas of sf0.1, ~6 s
    and ~180 MB), built under .benchdata/ on first use. It is written
    to a private directory and renamed into place: an interrupted
    build leaves no partial point that a later run would take as
    complete, and two processes building at once do not interleave."""
    sf1 = os.path.join(REPO_ROOT, ".benchdata", "sf1")
    if not os.path.exists(os.path.join(sf1, "lineitem.parquet")):
        if not os.path.isdir(SF1_SOURCE):
            pytest.skip(f"{SF1_SOURCE} (the source of sf1) is not present")
        from tools.make_benchdata import generate

        tmp = f"{sf1}.tmp{os.getpid()}"
        generate(SF1_SOURCE, tmp, 10)
        try:
            os.rename(tmp, sf1)
        except OSError:  # another process renamed its copy first
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return sf1
