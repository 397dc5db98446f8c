import pytest

from medtype_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the shipped session config, at 4 threads, 8 shuffle partitions and
    # a 4g heap
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_DRIVER_MEM", "4g")
        s = get_spark("medtype_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
