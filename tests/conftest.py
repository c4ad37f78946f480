import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mel_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mel_spark_tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_tables():
    """Deterministic tiny synthetic repos corpus (FIXTURES.md scale 'tiny')."""
    from mel_spark.datagen import GenConfig, generate_repos

    return generate_repos(GenConfig(n_files=300, seed=42))


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("MEL_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def er_job_joins(spark):
    """jobs/er_job.py's join conf: static auto-broadcast off, so AQE never
    converts a join either and every broadcast in a plan comes from an
    explicit hint. Restored after the test."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture()
def full_scan_locations(spark):
    """Print scan locations in full in plan strings (Spark truncates them to
    ``spark.sql.maxMetadataStringLength``, 100 chars by default), so a plan
    test can tell scans apart by path. Restored after the test."""
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 20))
    yield
    spark.conf.set(key, old)


@pytest.fixture()
def fold_sort_merge(monkeypatch):
    """Force the fold's sort-merge joins: no side fits a broadcast budget of
    zero bytes."""
    from mel_spark.operators import incremental

    monkeypatch.setattr(incremental, "FOLD_BROADCAST_MAX_BYTES", 0)
