import pytest


def pytest_collection_modifyitems(items):
    # the oracle gate starts its own Spark JVM: run it before the shared
    # session below exists, so the two JVMs never hold memory at once
    items.sort(key=lambda item: item.path.name != "test_oracle_gate.py")


@pytest.fixture(scope="session")
def spark():
    from pyproj_spark.session import get_spark
    sp = get_spark("pyproj_spark-tests", cores=4, shuffle_partitions=8)
    yield sp
