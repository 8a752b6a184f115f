from __future__ import annotations

import os
import sys

import pytest
from py4j.protocol import Py4JNetworkError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from secure_agent_api_vector_search_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8") or 8))
    yield s


@pytest.fixture(autouse=True)
def _stop_on_dead_jvm(request):
    """End the run once the test JVM no longer answers: every later
    Spark test would fail as well, and each hypothesis test would spend
    minutes shrinking Py4J connection errors."""
    if "spark" in request.fixturenames:
        spark = request.getfixturevalue("spark")
        try:
            spark.sparkContext._jvm.java.lang.System.nanoTime()
        except (Py4JNetworkError, ConnectionError) as e:
            pytest.exit(f"the test JVM no longer answers, stopping the run: {e}")
    yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def docs(spark, sf_dir):
    from secure_agent_api_vector_search_spark.sources.tables import load_documents

    return load_documents(spark, sf_dir).cache()


@pytest.fixture(scope="session")
def emb(spark, sf_dir):
    from secure_agent_api_vector_search_spark.sources.tables import load_embeddings

    return load_embeddings(spark, sf_dir).cache()
