import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kstream_spark import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # spark.default.parallelism=4 (r14, test-session only): on a 32-core
    # box, createDataFrame(list) slices tiny fixture data into 32 Python
    # partitions, and the suite's ubiquitous `.coalesce(1).write.parquet`
    # fixture writes evaluate all 32 SERIALLY in one task (~140 ms per
    # empty Python partition round-trip = ~4.5 s per one-row fixture
    # write, measured).  4 slices keeps the same semantics (tests that
    # need specific partitioning repartition explicitly) at ~0.6 s.
    # Production sessions are untouched — this is the test fixture.
    s = get_spark(app_name="kstream_spark_tests", shuffle_partitions=4,
                  extra_conf={"spark.default.parallelism": "4"})
    # getOrCreate hands back an already-running session unchanged, so
    # check the pin actually took effect
    assert s.sparkContext.defaultParallelism == 4
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
