import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from combblas_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="combblas-tests",
        cores=os.environ.get("SPARK_TEST_CPUS", "4"),
        shuffle_partitions=8,
        driver_memory="4g",
        # per-call job counts (tests/test_runtime.py::_jobs) read the
        # retained job list; the default 1,000 truncates long loops
        extra_conf={"spark.ui.retainedJobs": "100000"},
    )
    yield s
    s.stop()


def df_edges(spark, triples):
    """Helper: list of (src, dst[, val]) -> edge DataFrame."""
    if triples and len(triples[0]) == 2:
        triples = [(s, d, 1.0) for s, d in triples]
    return spark.createDataFrame(
        [(int(s), int(d), float(v)) for s, d, v in triples], "src long, dst long, val double"
    )


def df_vec(spark, pairs):
    return spark.createDataFrame(
        [(int(i), float(v)) for i, v in pairs], "id long, val double"
    )
