import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_architecture_using_apache_iceberg_table_buckets_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mats-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def no_jobs(spark):
    """``with no_jobs(label):`` fails when its body starts a Spark job."""
    sc = spark.sparkContext

    @contextmanager
    def check(label: str = "no_jobs"):
        group = f"no_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, label)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], label

    return check


@pytest.fixture()
def sql_calls(monkeypatch):
    """``calls = sql_calls()`` starts recording the text of every
    ``SparkSession.sql`` statement into ``calls``."""
    from pyspark.sql import SparkSession

    def start() -> list:
        calls = []
        real = SparkSession.sql

        def counted(self, *a, **kw):
            calls.append(a[0] if a else kw.get("sqlQuery"))
            return real(self, *a, **kw)

        monkeypatch.setattr(SparkSession, "sql", counted)
        return calls

    return start
