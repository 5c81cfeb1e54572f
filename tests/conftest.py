from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from powergraph_spark.session import get_spark  # noqa: E402

# The reference's 5-vertex / 7-edge parser fixture
# (/root/reference/tests/test_parsers.cpp:30-76, tests/data/test_tsv).
REF_EDGES = [(0, 5), (1, 0), (1, 5), (2, 0), (2, 5), (3, 0), (3, 5)]
REF_VERTICES = {0, 1, 2, 3, 5}

# Session conf for the test run only.
# - DataFrame debugging makes every PySpark DataFrame/Column call record
#   its Python call site in the JVM: 13 py4j round trips for one F.col
#   instead of 3. The superstep loops under test build hundreds of such
#   expressions per superstep; turning it off cuts a 10-superstep
#   pagerank from 3021 to 1804 py4j calls. It only affects the Python
#   call-site context in error messages.
# - A 4g heap bounds the driver JVM's resident memory over a long run.
#   The live heap stays under 1 GB, but with the 8g default the JVM
#   reached 5.3 GB RSS within 12 minutes.
TEST_CONF = {
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.driver.memory": "4g",
}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="powergraph-tests", shuffle_partitions=8, extra_conf=TEST_CONF
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
