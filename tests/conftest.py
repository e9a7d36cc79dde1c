"""Test fixtures: one local Spark session per pytest process, and the
test-data scale directory (``SPARK_GRAFT_TEST_SF_DIR``, default sf0.001).
"""

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # private warehouse dir: a test that saves a catalog table must not
    # leave ./spark-warehouse in the tree
    wh = tempfile.mkdtemp(prefix="wts_wh_")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("weaviate_txtai_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", wh)
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
