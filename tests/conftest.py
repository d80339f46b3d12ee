from __future__ import annotations

import os

import pytest

from hana_bq_beam_connector_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001"
)

# The session the ``spark`` fixture built, once it has been requested.
_SESSION = None


@pytest.fixture(scope="session")
def spark():
    global _SESSION
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    _SESSION = get_spark(app_name="tests", master=f"local[{cpus}]")
    yield _SESSION


@pytest.fixture(autouse=True)
def _stop_when_jvm_is_gone():
    """Once the session's JVM has died every later test would fail on
    its own; stop the run with one named error instead.  One py4j
    round trip per test, and none before the session exists."""
    if _SESSION is not None:
        try:
            stopped = _SESSION.sparkContext._jsc.sc().isStopped()
        except Exception as e:  # py4j cannot reach the JVM
            pytest.exit(f"the Spark JVM is gone: {e!r}", returncode=3)
        if stopped:
            pytest.exit("the SparkContext has stopped", returncode=3)
    yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")
