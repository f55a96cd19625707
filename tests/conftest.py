import pytest

from neocrawler_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a long-running test (a multi-round crawl)")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("neocrawler-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def catalog(tmp_path):
    from neocrawler_spark.sources.tables import Catalog

    return Catalog(tmp_path / "warehouse")
