import pytest
from pyspark import SparkContext

from movement_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="movement_spark_tests",
        master="local[8]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
    # A module that runs in the same process may have stopped this
    # session and shut its gateway down already (perfbench's own
    # fixture does); stop it only while its context is the active one.
    if SparkContext._active_spark_context is s.sparkContext:
        s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
