import pytest

from metaprofi_spark.plans.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="metaprofi-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"
