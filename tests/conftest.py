import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ivfadc_spark.session import get_spark

    s = get_spark("ivfadc-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module")
def full_shards():
    """Builds in the requesting module keep ``cfg.doc_shards`` doc shards.

    A build sizes its shard count from its rows (``build_index.SHARD_ROWS``
    rows a shard, capped at ``cfg.doc_shards``), so a test corpus of a few
    hundred rows would get one shard. One row a shard puts every such build
    at the cap: the multi-shard layout the module's fixtures exercise."""
    from ivfadc_spark.plans import build_index

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build_index, "SHARD_ROWS", 1)
        yield
