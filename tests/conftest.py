from __future__ import annotations

import os
import uuid

import pytest

SF_DIR = os.environ.get("PARACHUTE_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # Registered dynamically so the family/shard markers used by
    # test_correctness.py (family_<prefix>, shard0..shard3) never warn;
    # families come from the workload registry itself.
    config.addinivalue_line("markers", "shard0: correctness sweep shard 0")
    config.addinivalue_line("markers", "shard1: correctness sweep shard 1")
    config.addinivalue_line("markers", "shard2: correctness sweep shard 2")
    config.addinivalue_line("markers", "shard3: correctness sweep shard 3")
    try:
        from duckdb_parachute_spark.workload import load_all

        fams = sorted({n.split("_", 1)[0] for n in load_all()})
        for f in fams:
            config.addinivalue_line("markers", f"family_{f}: {f} query family")
    except Exception:
        pass


@pytest.fixture(scope="session")
def spark():
    from duckdb_parachute_spark import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_session(
        app_name="parachute-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    from duckdb_parachute_spark.testkit import OracleSession

    return OracleSession(sf_dir)


@pytest.fixture()
def no_aqe(spark):
    # AQE runs each shuffle stage as its own job; job counts are pinned on
    # the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
