import pytest

from pyspark.sql import SparkSession

from funnel_rocket_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="funnel-rocket-spark-tests", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _pin_shuffle_partitions():
    """Tests that drive product entry points (cli.main, api) call
    get_spark() with its DEFAULT partition count, which reconfigures the
    session-scoped fixture's runtime SQL confs for every later test.
    Restore the conftest value after each test so ordering can't leak
    confs."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.conf.set("spark.sql.shuffle.partitions", "4")
