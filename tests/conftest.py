import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from swspark.session import get_spark

    s = get_spark("swspark-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def crawl_trace(spark, state):
    """A crawl's crawl-order trace: ``seen``, the wave log, as
    (wave, host, url, rank). ``state`` is the crawl's CrawlState."""
    return state.seen.read(spark).select("wave", "host", "url", "rank")
