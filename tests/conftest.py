import os
import sys

import pytest


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession

    s = (SparkSession.builder
         .master("local[4]")
         .appName("archive-pdf-tools-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "4g")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture
def native_modes():
    """``for mode in native_modes(spark=None)`` runs a test body twice:
    with the compiled kernels as loaded ("native"), then with them off
    ("python") in this process and, given a session, in the Spark Python
    workers of the queries built from then on (``SparkContext.
    environment`` reaches the workers through each Python function's
    environment).  Teardown restores both."""
    from archive_pdf_tools_spark.kernels import native

    saved = native._lib, native._tried, native._status
    envs = []

    def modes(spark=None):
        yield "native"
        native._lib, native._tried = None, True
        native._status = "disabled by SPARK_GRAFT_CKERN"
        if spark is not None:
            envs.append(spark.sparkContext.environment)
            envs[-1]["SPARK_GRAFT_CKERN"] = "0"
        yield "python"

    yield modes
    native._lib, native._tried, native._status = saved
    for env in envs:
        env.pop("SPARK_GRAFT_CKERN", None)
