import pytest


@pytest.fixture(scope="session")
def spark():
    from netbase_spark.session import get_spark

    s = get_spark(app="netbase_spark_tests", shuffle_partitions=8)
    yield s
