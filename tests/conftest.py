import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
# The session default (8g) lets the test JVM's heap grow to ~9 GB
# resident on these tiny inputs; bound it so the suite can share a box
# with a second Spark session. An explicit setting still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from dataframe_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark):
    from dataframe_spark.core import DataFrame
    from dataframe_spark.tables import load_table

    return DataFrame(load_table(spark, SF_DIR, "lineitem"))


@pytest.fixture(scope="session")
def docs(spark):
    from dataframe_spark.tables import load_table

    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="session")
def small(spark):
    from dataframe_spark.core import DataFrame

    return DataFrame(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", None), (3, "a", 30.0), (4, None, 40.0)],
            "id int, grp string, val double",
        )
    )
