import pytest
from pyspark.sql import SparkSession

from medtype_spark.session import DAEMON_MODULE, export_package_root


@pytest.fixture(scope="session")
def spark():
    # the shipped worker path: get_spark's preloading daemon, which also
    # stops every task from re-reading pyspark.zip's directory
    export_package_root()
    s = (
        SparkSession.builder.appName("medtype_spark_tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        # get_spark's plan shape: AQE may coalesce persisted plans
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.python.unix.domain.socket.enabled", "false")
        .config("spark.python.authenticate.socketTimeout", "2s")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()
