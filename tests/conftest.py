import shutil
import tempfile

import pytest
from hypothesis import settings

SF_DIR = "/root/testdata/sf0.001"

# Property tests run the same examples every time (derandomized), keep no
# example database in the checkout, and never time out on a Spark job; a
# test that evaluates Spark plans per example lowers max_examples itself.
settings.register_profile(
    "tier1", derandomize=True, deadline=None, database=None, max_examples=25
)
settings.load_profile("tier1")


@pytest.fixture(scope="session")
def spark():
    from cartography_spark.session import get_spark

    s = get_spark(app_name="cartography_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture()
def store(spark):
    from cartography_spark.core.store import GraphStore

    root = tempfile.mkdtemp(prefix="graphstore_")
    yield GraphStore(spark, root, write_partitions=2)
    shutil.rmtree(root, ignore_errors=True)
